"""Summarise the run records in ``perfbench/.results``.

    python3 perfbench/summarize.py

For each workload and trace setting: the median and quartiles of every
end-to-end metric over the recorded seeds, their spread (quartile
distance over median, as ``statistics.quantiles(values, n=4)`` gives
the quartiles), and, for traced runs, the median of every per-layer
counter and of each key family's driver-gap and task-time shares.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def _row(name: str, values: list[float]) -> str:
    med = statistics.median(values)
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else 0.0
    return f"  {name:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}"


def main() -> int:
    records: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(HERE, ".results", "*.json"))):
        with open(path) as f:
            r = json.load(f)
        records.setdefault((r["workload"], r["trace"]), []).append(r)
    for (workload, trace), runs in sorted(records.items()):
        seeds = sorted(r["seed"] for r in runs)
        print(f"{workload} trace={trace}: {len(runs)} runs, seeds {seeds}")
        section = "per_layer" if trace else "end_to_end"
        for name in runs[0][section]:
            print(_row(name, [r[section][name] for r in runs]))
        for name in ("query_p50_s", "query_tail_s", "peak_rss_mb", "steal_cpus", "error_rate"):
            print(_row(name, [r[name] for r in runs]))
        for group in runs[0].get("groups", {}):
            for share in ("driver_gap_share", "task_share_per_core"):
                print(_row(f"{group}.{share}", [r["groups"][group][share] for r in runs]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
