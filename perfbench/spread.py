"""Median, quartiles and spread of each metric over a set of runs.

    python3 perfbench/spread.py perfbench/out/analytics-seed*-trace0.json

Reads the per-run records ``run.py`` writes and prints, per workload and
end-to-end metric, the median, the quartiles of ``statistics.quantiles(n=4)``
and their distance as a share of the median: the spread a metric's bound in
``BENCHMARK.json`` must cover.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

import summary


def main(paths: list[str]) -> int:
    values: dict[tuple[str, str], list[float]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            rec = json.load(f)
        for name, v in rec["end_to_end"].items():
            if v is not None:
                values[(rec["workload"], name)].append(v)
    for (workload, name), xs in sorted(values.items()):
        if len(xs) < 2:
            print(f"{workload:12s} {name:14s} n={len(xs)} value={xs[0]:.4f}")
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{workload:12s} {name:14s} n={len(xs)} median={summary.median(xs):.4f} "
              f"q1={q1:.4f} q3={q3:.4f} spread={summary.iqr_spread(xs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
