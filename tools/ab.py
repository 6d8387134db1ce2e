#!/usr/bin/env python3
"""Interleaved A/B pairs of the repo benchmark: a git revision against the
working tree.

Usage, from anywhere inside the repository:
  python3 tools/ab.py --workload <olap_sql|curation|repl_session>
      [--rev HEAD] [--pairs 10] [--seed0 101] [--trace 0] [--workdir DIR]

Side "parent" is `git archive <rev>`; side "change" is a copy of the working
tree (tracked files plus untracked ones git does not ignore). Each side lives
in its own directory under --workdir and runs `graftbench/run.py` unchanged,
so each keeps its own build in its own `.bench_build/`. Every run lasts
BENCHMARK.json's `run_seconds`. One uncounted run per side (seed seed0 - 1)
first builds the side and warms the file cache. Pair k then runs seed
seed0 + k on both sides; the side that runs first alternates per pair.

Prints each metric per seed, both sides' medians, the parent's interquartile
range, how many pairs the change won (ties count for neither), and the env
line of each side. A metric's direction comes from BENCHMARK.json, or from
its unit suffix for the report-only lines (`flush_ms`, `write_p50_ms`, ...).
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

SIDES = ("parent", "change")
REPORT = re.compile(r"^\[graftbench\] (\S+)\s+(\S+)\s+(-?[0-9.]+(?:e-?\d+)?)\s+(\S+)")


def git(root, *args, **kw):
    return subprocess.run(["git", "-C", root] + list(args), check=True,
                          stdout=subprocess.PIPE, **kw).stdout


BUILD_DIRS = (".bench_build", "target")


def fresh(path):
    """Empties `path` except the build outputs a later run reuses: the
    benchmark's classpath cache and sbt's `target` directories."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if name in BUILD_DIRS:
            continue
        if os.path.isdir(p) and not os.path.islink(p):
            fresh(p)
            if not os.listdir(p):
                os.rmdir(p)
        else:
            os.remove(p)


def export_rev(root, rev, dest):
    fresh(dest)
    archive = git(root, "archive", rev)
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def export_tree(root, dest):
    fresh(dest)
    files = git(root, "ls-files", "-z", "--cached", "--others",
                "--exclude-standard").decode().split("\0")
    for f in filter(None, files):
        src = os.path.join(root, f)
        if not os.path.isfile(src):
            continue  # deleted in the working tree
        os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, f))


def benchmark(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench):
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def better(name, known):
    if name in known:
        return known[name]
    if name.endswith("_per_s") or name.endswith("utilization"):
        return "higher"
    if re.search(r"_(ms|s|mb|frac|jobs)$", name):
        return "lower"
    return None


def run(side_dir, a, seconds, seed):
    cmd = [sys.executable, "graftbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab: run failed in {side_dir} (seed {seed}, exit {p.returncode})")
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1])
    values = {}
    env = ""
    for l in lines[:-1]:
        if l.startswith("[graftbench] env "):
            env = l[len("[graftbench] env "):]
            continue
        m = REPORT.match(l)
        if m and m.group(1) == a.workload:
            values[m.group(2)] = (float(m.group(3)), m.group(4))
    for name, v in result["metrics"].items():
        values[name] = (float(v["value"]), v["unit"])
    return values, env, result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("olap_sql", "curation", "repl_session"))
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    a = ap.parse_args()

    root = git(os.path.dirname(os.path.abspath(__file__)),
               "rev-parse", "--show-toplevel").decode().strip()
    bench = benchmark(root)
    seconds = bench["run_seconds"]
    dirs = {s: os.path.join(a.workdir, s) for s in SIDES}
    export_rev(root, a.rev, dirs["parent"])
    export_tree(root, dirs["change"])
    print(f"[ab] {a.workload}: parent = {a.rev} "
          f"({git(root, 'rev-parse', '--short', a.rev).decode().strip()}), "
          f"change = working tree; {a.pairs} pairs, --seconds {seconds}, "
          f"--trace {a.trace}", flush=True)

    for s in SIDES:
        run(dirs[s], a, seconds, a.seed0 - 1)
        print(f"[ab] {s}: built and warmed up (seed {a.seed0 - 1}, not counted)",
              flush=True)

    got = {s: [] for s in SIDES}
    envs = {}
    for k in range(a.pairs):
        seed = a.seed0 + k
        order = SIDES if k % 2 == 0 else SIDES[::-1]
        for s in order:
            values, env, result = run(dirs[s], a, seconds, seed)
            got[s].append((seed, values))
            envs[s] = env
            ok = "ok" if result["correct"] and result["failed"] == 0 else \
                f"FAILED {result['failed']} of {result['attempted']}"
            summary = ", ".join(f"{m} {values[m][0]:.4g}" for m in
                                ("ops_per_s", "latency_p50_ms", "latency_tail_ms")
                                if m in values)
            print(f"[ab] pair {k + 1} seed {seed} {s}: {summary} ({ok})", flush=True)

    known = directions(bench)
    names = [n for n in got["parent"][0][1] if all(n in v for _, v in got["change"])
             and all(n in v for _, v in got["parent"])]
    print()
    print(f"{'metric':<24} {'unit':<6} {'seed':>6} {'parent':>14} {'change':>14}")
    for n in names:
        for (seed, pv), (_, cv) in zip(got["parent"], got["change"]):
            print(f"{n:<24} {pv[n][1]:<6} {seed:>6} {pv[n][0]:>14.5g} {cv[n][0]:>14.5g}")
    print()
    print(f"{'metric':<24} {'better':<7} {'parent med':>12} {'parent IQR':>12} "
          f"{'change med':>12} {'delta':>8} {'change wins':>12}")
    for n in names:
        p = [v[n][0] for _, v in got["parent"]]
        c = [v[n][0] for _, v in got["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        delta = f"{100 * (cm - pm) / pm:+.1f}%" if pm else "n/a"
        way = better(n, known)
        if way is None:
            wins = "-"
        else:
            sign = 1 if way == "higher" else -1
            wins = f"{sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)}/{len(p)}"
        print(f"{n:<24} {way or '?':<7} {pm:>12.5g} {q3 - q1:>12.5g} {cm:>12.5g} "
              f"{delta:>8} {wins:>12}")
    print()
    for s in SIDES:
        print(f"[ab] env {s}: {envs.get(s, '')}")


if __name__ == "__main__":
    main()
