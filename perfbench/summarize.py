"""Fold the per-run details in ``.bench_out/`` into one table per workload.

    python3 perfbench/summarize.py

For every end-to-end metric: the median over runs and the highest
percentile with at least ten runs beyond it (shown once there are 20 runs
or more), plus the inter-quartile spread as a share of the median. Traced
runs are compared with the untraced ones to show the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _pct(values: list[float], p: float) -> float:
    values = sorted(values)
    k = (len(values) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (k - lo)


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(".bench_out", "*.json"))):
        with open(path) as fh:
            d = json.load(fh)
        traced = "traced_e2e" in d
        runs.setdefault((d["workload"], int(traced)), []).append(
            d["traced_e2e"] if traced else d["metrics"])
    if not runs:
        print("no runs in .bench_out/", file=sys.stderr)
        return 1
    for (workload, traced), rows in sorted(runs.items()):
        if traced:
            continue
        n = len(rows)
        p_hi = 100 * (1 - 10 / n) if n >= 20 else None
        print(f"{workload}: {n} runs")
        for name in rows[0]:
            vals = [r[name] for r in rows]
            med = statistics.median(vals)
            line = f"  {name:24s} median {med:12.4f}"
            if n >= 4:
                q = statistics.quantiles(vals, n=4)
                line += f"  iqr/median {(q[2] - q[0]) / med:6.3f}"
            if p_hi is not None:
                line += f"  p{p_hi:.0f} {_pct(vals, p_hi):12.4f}"
            tr = runs.get((workload, 1))
            if tr:
                line += f"  traced/untraced {statistics.median(r[name] for r in tr) / med:6.3f}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
