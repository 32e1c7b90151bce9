"""Measure bytes-through-Exchange vs storage-bytes for the ordered
(range-exchange sort) and merged (exchange-free mapInArrow) scan paths
(VERDICT r6 #4 — the SCALE.md claim as recorded task metrics).

    env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/shuffle_audit.py

Prints one JSON line per path with shuffle write/read and input bytes
for the same bounded range read, plus a ready-to-paste markdown table.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    from hbasewd_spark.metrics import ShuffleAudit
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.session import get_spark
    from hbasewd_spark.sources.loaders import load_table
    from hbasewd_spark.sources.salted_table import SaltedTable

    spark = get_spark(app_name="shuffle_audit")
    events = load_table(spark, SF_DIR, "events")
    events.count()
    bounds = events.agg(
        (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
        (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
    ).collect()[0]
    path = "/tmp/hbasewd_shuffle_audit/events_salted"
    t = SaltedTable.write(
        events, path, HashDistributor(32), "ts", zone_map_cols=["ts"]
    )

    audit = ShuffleAudit(spark)
    # collect(), not count(): EliminateSorts strips the range-exchange
    # sort under a bare count, which would understate the ordered path.
    # A materializing consumer is what any real reader of an ordered
    # scan is.
    paths = {
        "ordered_scan_bounded": lambda: len(
            t.scan(start=bounds.lo, stop=bounds.hi, ordered=True).collect()
        ),
        "merged_scan_bounded": lambda: len(
            t.scan_merged(start=bounds.lo, stop=bounds.hi).collect()
        ),
        "ordered_scan_full": lambda: len(t.scan(ordered=True).collect()),
        "merged_scan_full": lambda: len(t.scan_merged().collect()),
    }
    results = {}
    for name, fn in paths.items():
        fn()  # warm: zone metadata load + codegen, untimed/unmeasured
        rows, m = audit.measure(fn)
        results[name] = dict(m, rows=rows)
        print(json.dumps({"path": name, "sf_dir": SF_DIR, **results[name]}))

    print("\n| path | rows | shuffle write | shuffle read | input bytes |")
    print("|---|---|---|---|---|")
    for name, m in results.items():
        print(
            f"| {name} | {m['rows']:,} | {m['shuffle_write_bytes']:,} "
            f"| {m['shuffle_read_bytes']:,} | {m['input_bytes']:,} |"
        )
    for suffix in ("bounded", "full"):
        o = results[f"ordered_scan_{suffix}"]
        g = results[f"merged_scan_{suffix}"]
        if o["shuffle_write_bytes"]:
            print(
                f"{suffix}: merged moves {g['shuffle_write_bytes']:,} B through "
                f"Exchange vs ordered's {o['shuffle_write_bytes']:,} B "
                f"({g['shuffle_write_bytes'] / o['shuffle_write_bytes']:.4%})"
            )


if __name__ == "__main__":
    main()
