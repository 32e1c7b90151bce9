"""Hierarchical multi-resolution time rollup (hypertable-style
continuous aggregate), a time-series capability the reference's
timestamp-keyed scan model serves manually (HBaseWD's README use case
is monotonic time-series keys; rollups are what those tables get
queried for).

Spark-first, scale-first shape: the raw table is aggregated ONCE at
the finest resolution (one shuffle over the full data), and every
coarser resolution re-aggregates the previous one — minute → hour →
day. At 100 TB the raw shuffle dominates and coarser levels are
~1/60 and ~1/24 of their parent: total cost ≈ one aggregation pass,
versus 3 full-data shuffles for the naive per-resolution approach.
All measures are chosen to compose losslessly (count/decimal-sum/
min/max), so re-aggregation is exact — the same invariant that makes
incremental (streaming foreachBatch) maintenance of these rollups
correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.sources.loaders import load_table

_LEVELS = [("1m", "minute"), ("1h", "hour"), ("1d", "day")]


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(resolution, bucket_ts, event_type, n, sum_value, min_value,
    max_value) at minute/hour/day resolutions over `events`."""
    ev = load_table(spark, sf_dir, "events")

    minute = (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("bucket_ts"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    # `minute` is referenced by the union AND by hour (which day
    # references again): the three references plan one exchange, which
    # the later two reuse, so the raw table is still aggregated once

    def _up(child: DataFrame, unit: str) -> DataFrame:
        # re-aggregate the previous level: counts and decimal sums add,
        # min/max nest — no precision loss, no second full-data shuffle
        return (
            child.groupBy(
                F.date_trunc(unit, "bucket_ts").alias("bucket_ts"), "event_type"
            ).agg(
                F.sum("n").alias("n"),
                F.sum("sv").alias("sv"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )

    hour = _up(minute, "hour")
    day = _up(hour, "day")

    out = None
    for (tag, _), level in zip(_LEVELS, [minute, hour, day]):
        part = level.select(
            F.lit(tag).alias("resolution"),
            "bucket_ts",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("sv").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        )
        out = part if out is None else out.unionByName(part)
    return out


TIME_ROLLUP_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{tag}' AS resolution,
           date_trunc('{unit}', CAST(ts AS TIMESTAMP)) AS bucket_ts,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1, 2, 3
    """
    for tag, unit in _LEVELS
)


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance
# ---------------------------------------------------------------------------

MV_CUTOFF = "1998-01-01"


def incremental_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, proven against full
    recompute: a monthly per-status order rollup is 'materialized' from
    history (< :data:`MV_CUTOFF`), a delta batch (>= cutoff) is
    aggregated separately, and the two partial-aggregate sets merge by
    re-aggregation — counts and decimal sums add, min/max nest. The
    oracle computes the same view directly over ALL orders, so the
    driver's hash-check certifies merge algebra == full recompute.

    At 100 TB this is the continuous-aggregate refresh path (the batch
    twin of streaming/ingest.incremental_rollup): the delta shuffle
    costs O(|delta aggregate|), never a re-scan of history; the base
    would be read from the materialized store. Decimal sums make the
    merge exact — a double partial-sum would drift under re-aggregation
    order.

    r12 optimization (guide §2.4): the base and delta partials used to
    be two separately-filtered scans of orders (2 parquet scans, the
    full table read twice with complementary pushed filters). A
    partition flag (o_orderdate >= cutoff) in the grouping key yields
    the IDENTICAL partial-aggregate rows from ONE scan — the merge by
    re-aggregation (counts add, decimal sums add, min/max nest) is
    unchanged, which is the property the operator demonstrates. The
    isNotNull guard reproduces the old filters' joint behavior of
    dropping NULL order dates."""
    orders = load_table(spark, sf_dir, "orders")
    # month boundary typed DATE on both engines (Spark date_trunc
    # returns TIMESTAMP, DuckDB's returns DATE for a DATE input — the
    # explicit cast keeps the driver's canonical hash type-identical)
    keys = [
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.col("o_orderstatus").alias("status"),
    ]
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")
    parts = (
        orders.where(F.col("o_orderdate").isNotNull())
        .groupBy(*keys, (F.col("o_orderdate") >= cutoff).alias("is_delta"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("sv"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )
    return (
        parts.groupBy("month", "status")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv").cast("double").alias("sum_totalprice"),
            F.min("min_price").alias("min_price"),
            F.max("max_price").alias("max_price"),
        )
    )


INCREMENTAL_MV_ORACLE = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, o_orderstatus AS status,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_totalprice,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY 1, 2
"""
