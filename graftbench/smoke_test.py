#!/usr/bin/env python3
"""Fast end-to-end check of the benchmark itself, at sf0.001.

Usage, from the repository root:  python3 graftbench/smoke_test.py

Runs every workload once untraced and once traced, one timed pass each
(`--seconds 1` is shorter than any workload's pass), and
asserts that each run prints exactly the metric names BENCHMARK.json
declares, with their units, and that no operation failed. Takes a few
minutes: each run starts its own engine.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            label = f"{w['name']} trace={trace}"
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                               stdin=subprocess.DEVNULL, timeout=600)
            if p.returncode != 0:
                problems = [f"exit {p.returncode}"]
            else:
                r = json.loads(p.stdout.splitlines()[-1])
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                problems = []
                if got != want[trace]:
                    problems.append(f"metrics {sorted(got)} != {sorted(want[trace])}")
                if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                    problems.append(f"correct={r['correct']} failed={r['failed']} "
                                    f"of {r['attempted']}")
            print(f"{'FAIL' if problems else 'ok  '} {label} {'; '.join(problems)}",
                  flush=True)
            bad += problems
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
