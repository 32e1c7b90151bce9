"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds ``results.jsonl`` records as ``run.py`` appends them.
Prints each side's median and quartiles and the change's median over
the parent's. Refuses (exit 1) when the two sides ran on different
hosts (usable cores or memory), since such results do not compare.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def host_key(rec: dict) -> tuple:
    return rec["host"]["nproc"], rec["host"]["mem_gib"]


def summary(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    hosts = {host_key(r) for r in a + b}
    if len(hosts) > 1:
        print(f"refused: results come from different hosts {sorted(hosts)}", file=sys.stderr)
        return 1
    for wl in sorted({r["workload"] for r in a + b}):
        for trace in (0, 1):
            ra = [r for r in a if r["workload"] == wl and r["trace"] == trace]
            rb = [r for r in b if r["workload"] == wl and r["trace"] == trace]
            if not ra or not rb:
                continue
            print(f"{wl} (trace={trace}, runs {len(ra)} vs {len(rb)})")
            for m in ra[0]["metrics"]:
                sa = summary([r["metrics"][m] for r in ra])
                sb = summary([r["metrics"][m] for r in rb])
                ratio = sb[1] / sa[1] if sa[1] else float("nan")
                print(
                    f"  {m:<44} {sa[1]:>14.4f} [{sa[0]:.4f}, {sa[2]:.4f}]"
                    f"  {sb[1]:>14.4f} [{sb[0]:.4f}, {sb[2]:.4f}]  x{ratio:.3f}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
