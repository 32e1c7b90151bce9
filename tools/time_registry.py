#!/usr/bin/env python
"""Noop-sink timing for arbitrary registry queries (guide §1.4), with
the DataFrame BUILD inside the timed span — building a query may still
run jobs (under AQE a lazy localCheckpoint over a shuffle runs the
shuffle's map stages when it is built; the small-graph pagerank fetch
collects), so excluding the build would flatter any rewrite that moves
work there. Reports min of N reps (wave-resistant).

Usage: python tools/time_registry.py --only a,b [--sf DIR] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", required=True)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from hbasewd_spark.session import get_spark
    from hbasewd_spark import queries as Q
    from hbasewd_spark.operators.dedup import clear_dedup_caches
    from hbasewd_spark.operators.graph import clear_graph_caches

    spark = get_spark(app_name="time_registry")
    from hbasewd_spark.sources.loaders import load_table

    load_table(spark, args.sf, "events").count()  # JVM warm-up
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").count()

    results = {}
    for name in args.only.split(","):
        spec = Q.REGISTRY[name]
        times = []
        for _ in range(args.reps):
            clear_dedup_caches()
            clear_graph_caches()
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            df = spec.fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        results[name] = {"build_noop_min_s": min(times), "all": times}
        print(f"{name}: {results[name]}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(results, sort_keys=True))


if __name__ == "__main__":
    main()
