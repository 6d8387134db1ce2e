#!/usr/bin/env python3
"""Summarizes a traced benchmark run's spans by span name and job count.

Usage, from anywhere:
  python3 tools/spans.py <spans.jsonl>

`graftbench/run.py --trace 1` writes spans.jsonl (one JSON span per line:
name, start_ns, end_ns, self_ms, jobs, ...) under
`.bench_build/graftbench/out/<workload>-seed<n>-trace1/trace-seed<n>/`.
For each span name and each number of Spark jobs a span of that name ran,
this prints how many spans there were, their total and median wall time
(end_ns - start_ns) in ms, and their total self time (wall time minus the
wall time of child spans). A span name with several job counts gets one
more line, `all`, over all its spans, ending with their total jobs. So
`repl.stmt.sql` splits into its 0-, 1- and 2-job lines.
"""
import json
import statistics
import sys
from collections import defaultdict


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    groups = defaultdict(list)
    with open(argv[1]) as f:
        for line in f:
            if line.strip():
                s = json.loads(line)
                wall = (int(s["end_ns"]) - int(s["start_ns"])) / 1e6
                groups[(s["name"], int(s["jobs"]))].append((wall, float(s["self_ms"])))
    def row(name, jobs, spans, tail=""):
        walls = [w for w, _ in spans]
        print(f"{name:<24} {jobs:>5} {len(spans):>6} {sum(walls):>11.1f} "
              f"{statistics.median(walls):>10.1f} {sum(s for _, s in spans):>11.1f}{tail}")

    print(f"{'span':<24} {'jobs':>5} {'count':>6} {'total_ms':>11} {'median_ms':>10} "
          f"{'self_ms':>11}")
    for name in sorted({n for n, _ in groups}):
        keys = sorted(j for n, j in groups if n == name)
        for jobs in keys:
            row(name, jobs, groups[(name, jobs)])
        if len(keys) > 1:
            row(name, "all", [s for j in keys for s in groups[(name, j)]],
                f"  {sum(j * len(groups[(name, j)]) for j in keys)} jobs")

if __name__ == "__main__":
    main(sys.argv)
