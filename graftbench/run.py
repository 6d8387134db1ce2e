#!/usr/bin/env python3
"""The repo's benchmark: one command, one benchmark JVM per run.

Usage, from the repository root:
  python3 graftbench/run.py --workload <olap_sql|curation|repl_session>
      --seed <n> --seconds <s> --trace <0|1> [--sf 0.1]

The first run in a checkout builds the engine and the benchmark from source
with sbt (offline); later runs reuse the build from `.bench_build/graftbench/`.
The input tables are the harness tables in `graftbench/data/sf<sf>/`. Each
run starts the engine on local[<cpus>] with the repo's tier-1 heap formula,
prints report lines and, as its last stdout line, the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ("olap_sql", "curation", "repl_session")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build.sbt, from the launcher's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine and benchmark; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export bench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {p.returncode}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1], stamp


def data_dir(sf):
    d = os.path.join(HERE, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        die(f"no input tables for sf{sf}: {d}")
    return d


def heap():
    """The tier-1 heap formula: half the machine's memory, 2 to 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def cpus():
    return str(len(os.sched_getaffinity(0)))


def java_cmd(classpath, main, args, tmp):
    # -Xms = -Xmx plus pre-touch, as the root build does for dedicated
    # heaps: the heap's first-touch page faults happen at JVM start, not
    # inside timed operations.
    h = heap()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{h}", f"-Xmx{h}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
             "-cp", classpath, main] + args)


def run_jvm(classpath, stamp, main, args, out_dir):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus(),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
               GRAFTBENCH_COMMIT=f"src-{stamp}")
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as err:
        # the last argument is the launch time, which set-up time runs from
        cmd = java_cmd(classpath, main, args + [str(time.time_ns() // 1000)], tmp)
        try:
            p = subprocess.run(cmd, cwd=out_dir, env=env,
                               stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM exited {p.returncode}; log in {log}")
    return p.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine source missing: {need} (run from a full checkout)")
    data = data_dir(a.sf)
    expected = os.path.join(HERE, "expected", f"sf{a.sf}.json")
    if not os.path.exists(expected):
        die(f"no expected digests for sf{a.sf}: {expected}")
    os.makedirs(BUILD, exist_ok=True)
    classpath, stamp = build()
    out = os.path.join(BUILD, "out")
    out_dir = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    lines = run_jvm(classpath, stamp, "graftbench.Main",
                    [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     data, expected, out_dir], out_dir)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die("benchmark JVM printed no result line")
    for l in lines[:-1]:
        print(l)
    if a.trace:
        # tracing overhead: this traced run against the untraced run of the
        # same workload and seed, when one was made in this checkout
        other = os.path.join(out, f"{a.workload}-seed{a.seed}-trace0", "result.json")
        if os.path.exists(other):
            with open(other) as f:
                base = json.load(f)["metrics"]["ops_per_s"]["value"]
            traced = result["metrics"]["trace.ops_per_s"]["value"]
            print(f"[graftbench] tracing overhead {100 * (base - traced) / base:.1f}% "
                  f"of ops_per_s ({traced:.4f} traced vs {base:.4f} untraced, seed {a.seed})")
    shutil.rmtree(os.path.join(out_dir, "tmp"), ignore_errors=True)
    print(lines[-1])


if __name__ == "__main__":
    main()
