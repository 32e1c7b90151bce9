#!/usr/bin/env python
"""Registry-wide physical-plan audit for the optimization rounds
(guide §1.2 / §7.2).

For every ``queries()`` registry entry, build the DataFrame (no
action), capture ``explain('formatted')`` and tally structural
red flags:

- parquet scan count (duplicate-subtree smell when it exceeds the
  number of distinct base tables the query reads),
- Exchange count,
- join strategies (CartesianProduct / SortMergeJoin where a broadcast
  was expected),
- Python boundary nodes (BatchEvalPython / ArrowEvalPython).

Output: one TSV line per query, sorted by scan count, to stdout.
Checkpointed subtrees are cut out of the final plan (lazy
localCheckpoints appear as a LogicalRDD leaf, filled by the first job
that reads them), so their scans are not counted here: numbers are
the *residual* plan cost.

Usage: python tools/plan_audit.py [--sf DIR] [--only a,b]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from hbasewd_spark.session import get_spark
    from hbasewd_spark import queries as Q

    spark = get_spark(app_name="plan_audit")
    only = set(args.only.split(",")) if args.only else None

    rows = []
    for name, spec in sorted(Q.REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        except Exception as e:  # streaming queries return non-DataFrames etc.
            rows.append((name, -1, -1, "", f"SKIP: {type(e).__name__}: {str(e)[:80]}"))
            continue
        # count unique operator ids from the details section ("(7) Scan parquet")
        # — the tree section lists every operator a second time
        n_scan = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
        n_exch = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        n_reuse = len(re.findall(r"ReusedExchange|ReusedSubquery", plan))
        n_sub = len(re.findall(r"^\(\d+\) Subquery", plan, re.M))
        joins = sorted(set(re.findall(
            r"CartesianProduct|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin",
            plan)))
        pynodes = sorted(set(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow", plan)))
        flags = []
        if "CartesianProduct" in joins:
            flags.append("CARTESIAN")
        if pynodes:
            flags.append("PY:" + "+".join(pynodes))
        if n_reuse:
            flags.append(f"reuse:{n_reuse}")
        if n_sub:
            flags.append(f"subq:{n_sub}")
        rows.append((name, n_scan, n_exch, "+".join(joins), " ".join(flags)))

    rows.sort(key=lambda r: (-r[1], -r[2]))
    print(f"{'query':<34}\tscans\texch\tjoins\tflags")
    for name, n_scan, n_exch, joins, flags in rows:
        print(f"{name:<34}\t{n_scan}\t{n_exch}\t{joins}\t{flags}")


if __name__ == "__main__":
    main()
