"""The engine's query registry — the driver correctness surface.

Every entry maps one SURVEY.md §2 inventory item (or north-star
extension operator) to a `(spark_fn, duckdb_oracle_sql)` pair. The
Spark side is the engine's idiomatic plan; the oracle is ANSI-ish SQL
DuckDB evaluates over the same parquet tables. Column names and value
arithmetic are engineered to hash-match bit-for-bit:

- double sums go through DECIMAL (order-independent) then cast to
  double identically on both sides;
- per-row float arithmetic uses identical fold orders;
- timestamps are microsecond-truncated on both sides (loaders.py);
- every computed column is aliased to the same name in both texts.

Naming: ``oN_*``/``pN_*`` tie back to SURVEY.md §2.1/§2.2 operator ids,
``rel_*`` to the §2.3 relational surface, ``ext_*`` to the north-star
extension operators.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.functions.codec import sql_hash31_of_long, sql_md5_long
from hbasewd_spark.plans.distributor import Hash31Distributor
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table, sql_on_tables


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None, doc: str = ""):
    """Register ``fn(spark, sf_dir)`` under ``name``: as a decorator,
    or called as ``q(name, oracle, doc)(fn)`` for a function defined
    elsewhere. A name registers once."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle, doc)
        return fn

    return deco


# ===========================================================================
# Core distribution operators (SURVEY §2.1)
# ===========================================================================

RR_BUCKETS = 12  # RowKeyDistributorByOneBytePrefixTest.java:23
H31_BUCKETS = 15  # _OneByteSimpleHashTest.java:5

# Portable round-robin-in-write-order salt (O1): the reference's
# per-writer counter (RowKeyDistributorByOneBytePrefix.java:47-53)
# pinned to the deterministic write order event_id.
_RR_SALT = f"((row_number() OVER (ORDER BY event_id)) - 1) % {RR_BUCKETS}"

_O1_SQL = f"""
SELECT salt, count(*) AS n, count(DISTINCT event_id) AS n_keys
FROM (SELECT event_id, {_RR_SALT} AS salt FROM events) t
GROUP BY salt
"""


@q(
    "o1_roundrobin_salt_balance",
    _O1_SQL,
    "O1 round-robin salting is key-independent and perfectly balanced "
    "(RowKeyDistributorByOneBytePrefix.java:47-53).",
)
def o1_roundrobin_salt_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _O1_SQL)


_H31_SALT = sql_hash31_of_long("event_id", H31_BUCKETS)

_O2_SQL = f"""
SELECT salt, count(*) AS n
FROM (SELECT {_H31_SALT} AS salt FROM events) t
GROUP BY salt
"""


@q(
    "o2_hash31_salt_distribution",
    _O2_SQL,
    "O2+O5 deterministic 31-polynomial hash salting of the 8-byte BE key "
    "(RowKeyDistributorByHashPrefix.java:102-114), bucket histogram.",
)
def o2_hash31_salt_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _O2_SQL)


@q(
    "o3_desalt_roundtrip",
    "SELECT count(*) AS n_total, count(*) AS n_roundtrip FROM events",
    "O3 getOriginalKey∘getDistributedKey = identity "
    "(RowKeyDistributorTestBase.java:85): every key survives the "
    "encode→salt→strip→decode round trip.",
)
def o3_desalt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions import codec

    ev = load_table(spark, sf_dir, "events")
    enc = codec.encode_long_be("event_id")
    salted_key = F.concat(F.unhex(F.lpad(F.hex(F.lit(3)), 2, "0")), enc)  # prefix ‖ key
    back = codec.decode_long_be(codec.strip_salt_prefix(salted_key, 1))
    return ev.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(back == F.col("event_id"), 1)).alias("n_roundtrip"),
    )


_POINT_KEYS = "(5, 77, 123, 500)"

_O4_SQL = f"""
SELECT event_id, event_type, value
FROM events WHERE event_id IN {_POINT_KEYS}
"""


@q(
    "o4_point_get_roundrobin_fanout",
    _O4_SQL,
    "O4 getAllDistributedKeys: under round-robin salting a point get "
    "fans out over every bucket (salt IN all) "
    "(RowKeyDistributorByOneBytePrefix.java:60-72).",
)
def o4_point_get_roundrobin_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.plans.distributor import RoundRobinDistributor
    from hbasewd_spark.sources.salted_table import salted

    ev = load_table(spark, sf_dir, "events")
    d = RoundRobinDistributor(RR_BUCKETS)
    sdf = salted(ev, d, "event_id")
    # salt is key-independent -> the engine must search all buckets
    fanout = sdf.where(
        F.col("salt").isin(d.all_salts()) & F.col("event_id").isin(5, 77, 123, 500)
    )
    return fanout.select("event_id", "event_type", "value")


@q(
    "o6_prefix_domain_counts",
    f"""
    SELECT d.salt, count(e.event_id) AS n
    FROM (SELECT unnest(range(0, {H31_BUCKETS})) AS salt) d
    LEFT JOIN (SELECT {_H31_SALT} AS salt, event_id FROM events) e USING (salt)
    GROUP BY d.salt
    """,
    "O6 getAllPossiblePrefixes: the full declared salt domain, "
    "including buckets that happen to be empty "
    "(RowKeyDistributorByHashPrefix.java:67-74).",
)
def o6_prefix_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(
        spark,
        sf_dir,
        f"""
        SELECT d.salt, count(e.event_id) AS n
        FROM (SELECT explode(sequence(0, {H31_BUCKETS - 1})) AS salt) d
        LEFT JOIN (SELECT {_H31_SALT} AS salt, event_id FROM events) e USING (salt)
        GROUP BY d.salt
        """,
    )


# half-open [min+12h, min+36h) window over the monotonic event stream —
# sf-independent, non-empty at every scale factor
_TS_LO = "(SELECT min(ts) + INTERVAL '12' HOUR FROM events)"
_TS_HI = "(SELECT min(ts) + INTERVAL '36' HOUR FROM events)"

_O7_SQL = f"""
SELECT {_H31_SALT} AS salt, count(*) AS n,
       min(event_id) AS min_key, max(event_id) AS max_key
FROM events
WHERE ts >= {_TS_LO} AND ts < {_TS_HI}
GROUP BY 1
"""


@q(
    "o7_interval_fanout_counts",
    _O7_SQL,
    "O7+O8 interval fan-out: one logical [start,stop) range scan becomes "
    "a per-bucket pruned scan; per-bucket row counts and key extents "
    "(AbstractRowKeyDistributor.java:47-81).",
)
def o7_interval_fanout_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _O7_SQL)


_O9_SQL = f"""
SELECT row_number() OVER (ORDER BY ts, event_id) AS rn,
       event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
FROM events
WHERE ts >= {_TS_LO} AND ts < {_TS_HI}
"""


@q(
    "o9_ordered_range_scan",
    _O9_SQL,
    "O9 the flagship: salted write + salt-aware range scan + global "
    "original-key order restoration (DistributedScanner.java:106-139 as "
    "partition-pruned scan + range-exchange sort). rn makes the restored "
    "order part of the hash-checked values.",
)
def o9_ordered_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_scan_events(spark, sf_dir)


class _EventDist(Hash31Distributor):
    """Hash31 salting on the 8-BE-byte encoding of event_id (the
    reference's key form), for the ts-keyed salted events tables."""

    def salt_expr(self, key):
        return self.salt_expr_long(key)


def _salted_events(
    spark: SparkSession, sf_dir: str, name: str, distributor=None,
    zone_map_cols: list[str] | None = None,
):
    """``(table, bounds)`` for the salted-table queries: the events
    table written salted by ``distributor`` (default ``_EventDist``)
    under the per-SF cache dir ``name``, and ``bounds.lo``/
    ``bounds.hi``, a 24-hour ts range inside events."""
    from hbasewd_spark.sources.salted_table import SaltedTable

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
        (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
    ).collect()[0]
    path = os.path.join(
        tempfile.gettempdir(), "hbasewd_cache", os.path.basename(os.path.normpath(sf_dir)), name
    )
    dist = distributor or _EventDist(H31_BUCKETS)
    return SaltedTable.write(ev, path, dist, "ts", zone_map_cols=zone_map_cols), bounds


def salted_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M1 end-to-end slice: salt events by hash31(event_id), write a
    salt-partitioned key-sorted table, then run the pruned ordered scan.
    The rn order-witness is stamped by global_rank (partition-offset
    arithmetic over the range-exchange sort) — NOT a global window,
    which would funnel the scan output through one WindowExec task at
    scale (round-4 verdict, what's-wrong #2).
    """
    from hbasewd_spark.operators.topk import global_rank

    t, bounds = _salted_events(spark, sf_dir, "events_salted")
    scanned = t.scan(
        start=bounds.lo,
        stop=bounds.hi,
        ordered=False,  # global_rank's own sort is the order restoration
        columns=["event_id", "ts", "event_type", "value"],
    )
    return global_rank(scanned, ["ts", "event_id"], rk_name="rn").select(
        "rn", "event_id", "ts", "event_type", "value"
    )


@q(
    "o9b_merged_ordered_scan",
    _O9_SQL,
    "O9 via the exchange-free path: the same salted write + ordered "
    "range read, but order restoration is scan_merged's zone-planned "
    "shard merge (DistributedScanner.java:106-139 fanned out as tasks "
    "— table bytes never cross a shuffle) instead of a range-exchange "
    "sort; rn is stamped presorted, so the whole witness stays "
    "exchange-free. Same oracle as o9: the two paths must agree "
    "exactly, rank included.",
)
def o9b_merged_ordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.operators.topk import global_rank

    t, bounds = _salted_events(spark, sf_dir, "events_salted_merged")
    merged = t.scan_merged(
        start=bounds.lo,
        stop=bounds.hi,
        columns=["event_id", "ts", "event_type", "value"],
        tiebreak=["event_id"],
    )
    return global_rank(merged, ["ts", "event_id"], presorted=True, rk_name="rn").select(
        "rn", "event_id", "ts", "event_type", "value"
    )


_P2_SQL = f"""
SELECT event_id, {_H31_SALT} AS salt, event_type, value
FROM events WHERE event_id IN {_POINT_KEYS}
"""


@q(
    "p2_point_get_hash_pruned",
    _P2_SQL,
    "P2 point lookup under deterministic hash salting: the engine "
    "recomputes the bucket and prunes to ONE salt partition "
    "(README:75-78); output includes the pruned-to salt.",
)
def p2_point_get_hash_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _P2_SQL)


_P5_SQL = f"""
SELECT event_id, event_type, value
FROM events
WHERE ts >= {_TS_LO} AND ts < {_TS_HI} AND event_type = 'click'
"""


@q(
    "p5_filter_projection_passthrough",
    _P5_SQL,
    "P5 Scan-option preservation: caller filters and column projection "
    "ride through the salted-scan rewrite untouched "
    "(AbstractRowKeyDistributor.java:76-78 as Catalyst pushdown) — this "
    "runs through the real SaltedTable write+scan path.",
)
def p5_filter_projection_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.plans.distributor import HashDistributor

    t, bounds = _salted_events(spark, sf_dir, "events_salted_p5", HashDistributor(8))
    return t.scan(
        start=bounds.lo,
        stop=bounds.hi,
        ordered=False,
        where=F.col("event_type") == "click",
        columns=["event_id", "event_type", "value"],
    )


_P6_SQL = f"""
SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users
FROM events WHERE ts >= {_TS_LO} AND ts < {_TS_HI}
"""


@q(
    "p6_count_range",
    _P6_SQL,
    "P6 RowCounterMapper parity: count over a salted key range via the "
    "unordered parallel read path (RowKeyDistributorTestBase.java:210-223).",
)
def p6_count_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _P6_SQL)


_P6B_SQL = f"""
SELECT count(*) AS n_range
FROM events WHERE ts >= {_TS_LO} AND ts < {_TS_HI}
"""


@q(
    "p6b_metadata_count_range",
    _P6B_SQL,
    "P6 count served from zone-map METADATA (SaltedTable.fast_count): "
    "files wholly inside the range contribute their footer row count "
    "with zero I/O — the reference's lean on per-region metadata — and "
    "only boundary-straddling files are scanned. The oracle counts the "
    "same range the slow way; the two must agree exactly.",
)
def p6b_metadata_count_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, bounds = _salted_events(spark, sf_dir, "events_salted_fastcount", zone_map_cols=["ts"])
    n = t.fast_count(bounds.lo, bounds.hi)
    return spark.createDataFrame([(n,)], "n_range long")


_P7_SQL = """
SELECT rn, event_id, event_type, value FROM (
  SELECT row_number() OVER (ORDER BY event_id) AS rn,
         event_id, event_type, value
  FROM events
) t WHERE rn <= 1000
"""


@q(
    "p7_limit_dump",
    _P7_SQL,
    "P7 DebugUtil.getContent parity: first 1000 rows in key order "
    "(DebugUtil.java:38-60). TakeOrderedAndProject (per-partition "
    "heaps), not a whole-table single-partition window.",
)
def p7_limit_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.operators.topk import global_topk

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return global_topk(ev, [F.col("event_id").asc()], 1000, rk_name="rn").select(
        "rn", "event_id", "event_type", "value"
    )


@q(
    "p8_key_codec_hex",
    """
    SELECT event_id,
           printf('%016x', event_id) AS key_hex,
           CAST(event_id AS BIGINT) AS decoded
    FROM events WHERE event_id < 100
    """,
    "P8 Bytes.toBytes(long) codec: 8-byte big-endian encode shown as "
    "hex, plus decode round-trip (Bytes.java semantics via "
    "functions/codec.py).",
)
def p8_key_codec_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions import codec

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 100)
    enc = codec.encode_long_be("event_id")
    return ev.select(
        "event_id",
        F.lower(F.hex(enc)).alias("key_hex"),
        codec.decode_long_be(enc).alias("decoded"),
    )


# ===========================================================================
# Relational surface (SURVEY §2.3) — joins/aggs/windows/setops/scalars
# ===========================================================================

from hbasewd_spark.operators import relational as R  # noqa: E402


q("rel_q1_pricing_summary", R.Q1_ORACLE,
  "TPC-H Q1: grouped 8-aggregate scan, decimal-exact sums")(R.q1_pricing_summary)
q("rel_join_broadcast", R.JOIN_BROADCAST_ORACLE,
  "fact⋈dim broadcast hash join + countDistinct")(R.join_broadcast_revenue)
q("rel_join_multiway", R.JOIN_MULTIWAY_ORACLE,
  "TPC-H Q5 shape: 5-table star join, all dims broadcast")(R.join_multiway_region_revenue)
q("rel_join_semi_anti", R.JOIN_SEMI_ANTI_ORACLE,
  "left_semi/left_anti (EXISTS / NOT EXISTS)")(R.join_semi_anti)
q("rel_window_running", R.WINDOW_RUNNING_ORACLE,
  "running sum + row_number + lag per customer")(R.window_running_total)
q("rel_topk_per_group", R.TOPK_ORACLE, "windowed top-k per group")(R.topk_per_group)
q("rel_rollup", R.ROLLUP_ORACLE, "ROLLUP + grouping()")(R.rollup_lineitem)
q("rel_cube", R.CUBE_ORACLE, "CUBE + grouping()")(R.cube_orders)
q("rel_set_ops", R.SET_OPS_ORACLE, "union/intersect/except")(R.set_ops_nations)
q("rel_scalar_gallery", R.SCALAR_ORACLE, "string/math scalar built-ins")(R.scalar_gallery)
q("rel_date_gallery", R.DATE_ORACLE, "date part extraction + date_trunc rollup")(R.date_gallery)
q("rel_pivot", R.PIVOT_ORACLE, "pivot event_type -> columns")(R.pivot_event_counts)
q("rel_range_join", R.RANGE_JOIN_ORACLE,
  "non-equi interval join with broadcast build side")(R.range_join_order_events)
q("rel_asof_lag", R.ASOF_ORACLE, "as-of previous-event join via lag window")(R.asof_prev_event)
q("rel_sessionization", R.SESSIONIZE_ORACLE,
  "gap-based sessionization via lag+cumsum")(R.sessionize)
q("rel_window_tumbling", R.TUMBLING_ORACLE,
  "tumbling event-time windows (batch twin of streaming agg)")(R.tumbling_window_agg)


@q(
    "rel_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "GROUPING SETS via SQL (identical text both engines)",
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
    )


# ===========================================================================
# Wave 4: JSON / advanced windows / subqueries / skew-salted agg / byte-compat
# ===========================================================================

from hbasewd_spark.operators import skew as SK  # noqa: E402


@q(
    "p8_bytecompat_salted_keys",
    f"""
    SELECT event_id,
           printf('%02x', {sql_hash31_of_long('event_id', 15)}) || printf('%016x', event_id) AS salted_hex,
           event_id AS recovered
    FROM events WHERE event_id < 200
    """,
    "byte-compat physical salted key: prefix byte ‖ 8-byte BE key "
    "(Bytes.add parity, RowKeyDistributorByOneBytePrefix.java:49), "
    "strip+decode round-trip",
)
def p8_bytecompat_salted_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions import codec

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    d = Hash31Distributor(15)
    key = codec.encode_long_be("event_id")
    staged = ev.select("event_id", key.alias("key")).select(
        "event_id", "key", d.salt_expr("key").alias("salt")
    )
    salted_key = codec.concat_salted_key(d.prefix_expr("salt"), F.col("key"))
    return staged.select(
        "event_id",
        F.lower(F.hex(salted_key)).alias("salted_hex"),
        codec.decode_long_be(codec.strip_salt_prefix(salted_key, d.prefix_length)).alias("recovered"),
    )


q("rel_json_extract", R.JSON_ORACLE,
  "JSON scalar extraction + agg over events.props")(R.json_extract_stats)
q("rel_window_analytics", R.WINDOW_ANALYTICS_ORACLE,
  "rank/dense_rank/ntile/percent_rank/cume_dist/first/last/lead")(R.window_analytics)
q("rel_range_frame", R.RANGE_FRAME_ORACLE,
  "RANGE BETWEEN value-window frames")(R.range_frame_window)
q("rel_subqueries", R.SUBQUERY_ORACLE,
  "EXISTS / IN / scalar subqueries (identical SQL both engines)")(R.subquery_battery)
q("rel_string_agg", R.STRING_AGG_ORACLE, "order-stable string aggregation")(R.string_agg_per_nation)
q("rel_unpivot", R.UNPIVOT_ORACLE, "unpivot wide->long via stack()")(R.unpivot_part_measures)
q("rel_approx_stats", None,
  "HLL++ approx distinct + quantile sketch (rows-only: sketches are "
  "engine-specific by design; error bounds asserted in tests)")(R.approx_stats)
q("rel_exact_stats", R.EXACT_STATS_SQL,
  "hash-checkable companion to rel_approx_stats: exact "
  "count(DISTINCT) + percentile_disc (identical SQL both engines; "
  "discrete quantiles pick data elements, so no cross-engine float "
  "interpolation drift)")(R.exact_stats)
q("perf_skew_salted_rollup", SK.SKEWED_ROLLUP_ORACLE,
  "two-phase salt-split aggregation (skew-immune groupBy)")(SK.skewed_user_rollup)
q("rel_cdc_upsert", R.CDC_UPSERT_ORACLE,
  "MERGE-style upsert (anti-join + union) with post-merge rollup")(R.cdc_upsert_orders)
q("rel_q4_order_priority", R.Q4_ORACLE, "TPC-H Q4 shape: EXISTS via left_semi")(R.q4_order_priority)
q("rel_q6_forecast", R.Q6_ORACLE,
  "TPC-H Q6 shape: pure pushdown filter + aggregate")(R.q6_forecast_revenue)
q("rel_q3_shipping_priority", R.Q3_ORACLE,
  "TPC-H Q3 shape: join + grouped revenue + deterministic top-10")(R.q3_shipping_priority)
q("rel_collections", R.COLLECTION_ORACLE,
  "array/map/struct + higher-order function gallery")(R.collection_functions)
q("rel_q14_promo_revenue", R.Q14_ORACLE,
  "TPC-H Q14 shape: broadcast fact-dim join + conditional agg")(R.q14_promo_revenue)
q("rel_time_weighted_avg", R.TWA_ORACLE,
  "time-weighted average over irregular series (lead window + "
  "exact integer-microsecond weights)")(R.time_weighted_avg)
q("rel_event_funnel", R.FUNNEL_ORACLE,
  "ordered view->click->purchase funnel via sequential conditional "
  "mins (no per-user sort); identical SQL both engines")(R.event_funnel)
q("rel_rolling_anomaly", R.ANOMALY_SQL,
  "trailing-48h z-score anomaly counts per event type; decimal frame "
  "sums make the rolling moments fold-order-independent")(R.rolling_anomaly)
q("rel_q7_volume_shipping", R.Q7_ORACLE,
  "TPC-H Q7 shape: bilateral nation trade volume by ship year")(R.q7_volume_shipping)
q("rel_q10_returned_items", R.Q10_ORACLE,
  "TPC-H Q10 shape: returned-revenue per customer, deterministic top-20")(R.q10_returned_items)
q("rel_q15_top_supplier", R.Q15_ORACLE,
  "TPC-H Q15 shape: scalar-subquery-on-aggregate (max quarterly revenue)")(R.q15_top_supplier)
q("rel_q18_large_orders", R.Q18_ORACLE,
  "TPC-H Q18 shape: HAVING-filtered order volumes, aggregate reused")(R.q18_large_orders)
q("rel_q19_disjunctive", R.Q19_ORACLE,
  "TPC-H Q19 shape: 3-way disjunctive join predicate, single scan")(R.q19_disjunctive_revenue)
q("rel_lateral_topn", R.LATERAL_ORACLE,
  "correlated LATERAL subquery: top-3 orders per customer")(R.lateral_topn)
q("rel_join_full_outer", R.JOIN_FULL_OUTER_ORACLE,
  "FULL OUTER join with nulls on both sides")(R.join_full_outer)
q("rel_table_stats", R.TABLE_STATS_ORACLE,
  "ANALYZE-style column statistics in one aggregation pass")(R.table_stats)
q("rel_time_range_frame", R.TIME_RANGE_FRAME_ORACLE,
  "sliding event-time RANGE frame (trailing-hour activity per event)")(R.time_range_frame)

from hbasewd_spark.operators import tpch2 as T2  # noqa: E402

q("rel_q8_market_share", T2.Q8_ORACLE,
  "TPC-H Q8 shape: regional market share per year (2 fact shuffles, 4 broadcast dims)",
)(T2.q8_market_share)
q("rel_q13_order_distribution", T2.Q13_ORACLE,
  "TPC-H Q13 shape: histogram of per-customer order counts (outer join + double agg)",
)(T2.q13_order_distribution)
q("rel_q16_supplier_variety", T2.Q16_ORACLE,
  "TPC-H Q16 shape: distinct-supplier variety per part sliver (bridge + anti-join)",
)(T2.q16_supplier_variety)
q("rel_q17_small_qty_revenue", T2.Q17_ORACLE,
  "TPC-H Q17 shape: below-20%-of-part-average revenue (window threshold, no self-join)",
)(T2.q17_small_qty_revenue)
q("rel_q21_waiting_suppliers", T2.Q21_ORACLE,
  "TPC-H Q21 shape: sole-late supplier (EXISTS/NOT EXISTS vs one-aggregate reformulation)",
)(T2.q21_waiting_suppliers)
q("rel_q22_sales_opportunity", T2.Q22_ORACLE,
  "TPC-H Q22 shape: dormant high-balance customers (scalar-subquery threshold + anti-join)",
)(T2.q22_sales_opportunity)
q("rel_q2_min_cost_supplier", T2.Q2_ORACLE,
  "TPC-H Q2 shape: argmin-per-group window vs textbook correlated-min oracle",
)(T2.q2_min_cost_supplier)
q("rel_q11_important_parts", T2.Q11_ORACLE,
  "TPC-H Q11 shape: grouped HAVING against a global scalar (one fact pass)")(T2.q11_important_parts)
q("rel_q20_dominant_suppliers", T2.Q20_ORACLE,
  "TPC-H Q20 shape: nested semi-join chain vs correlated-HAVING oracle")(T2.q20_dominant_suppliers)
q("rel_q5_local_supplier", T2.Q5_ORACLE,
  "TPC-H Q5 exact: local-supplier volume (c_nationkey=s_nationkey twist, dims broadcast)",
)(T2.q5_local_supplier_volume)
q("rel_q9_product_profit", T2.Q9_ORACLE,
  "TPC-H Q9 shape: profit per nation per year (retailprice cost proxy; part semi-filter first)",
)(T2.q9_product_profit)
q("rel_q12_priority_shipping", T2.Q12_ORACLE,
  "TPC-H Q12 shape: CASE-sum priority histogram by shipping-lag bucket")(T2.q12_priority_shipping)

from hbasewd_spark.operators import chunking as CH  # noqa: E402

q("ext_text_chunking", CH.chunking_oracle(),
  "context-window chunking: overlapping 64-token windows, stride 48")(CH.chunk_documents)
q("ext_pack_sequences", CH.packing_oracle(),
  "sequence packing: sharded prefix-sum assignment to token-budget bins")(CH.pack_sequences)
q("ext_length_buckets", CH.length_buckets_oracle(),
  "quartile length-bucketing for batching: exact percentile_disc "
  "cutoffs (one broadcast row) -> per-bucket doc/token profile")(CH.length_buckets)

from hbasewd_spark.operators import ranking as RK  # noqa: E402

q("ext_text_bm25", RK.bm25_oracle(),
  "BM25 top-20 retrieval: term-filtered tf, broadcast stats, fixed fold order")(RK.bm25_rank)
q("ext_hybrid_retrieval", RK.hybrid_oracle(),
  "hybrid search: BM25 candidates + embedding cosine rerank (two-tower blend)")(RK.hybrid_retrieval)


# ===========================================================================
# North-star extensions: text analysis / dedup / similarity / multimodal
# ===========================================================================

from hbasewd_spark.functions import text as TX  # noqa: E402
from hbasewd_spark.operators import dedup as DD  # noqa: E402
from hbasewd_spark.operators import multimodal as MM  # noqa: E402
from hbasewd_spark.operators import similarity as SIM  # noqa: E402

q("ext_multimodal_audio_segments", MM.AUDIO_SEGMENTS_ORACLE,
  "pure-Catalyst audio byte-segmentation, md5-verified bytes")(MM.audio_segments)


@q(
    "ext_text_stats",
    f"""
    SELECT doc_id, lang,
           {TX.sql_token_count('text', 'duckdb')} AS n_tokens,
           {TX.sql_bpe_ish_token_count('text', 'duckdb')} AS n_bpe_tokens,
           {TX.sql_alpha_ratio('text', 'duckdb')} AS alpha_ratio
    FROM documents
    """,
    "token counting (whitespace + BPE-ish regex) and character-class "
    "stats, all inside codegen",
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return docs.select(
        "doc_id",
        "lang",
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        TX.alpha_ratio("text").alias("alpha_ratio"),
    )


@q(
    "ext_text_language_id",
    f"""
    SELECT {TX.sql_lang_id('text', 'duckdb')} AS lang_pred, lang AS lang_true,
           count(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    "stopword-marker language-ID heuristic, confusion counts vs the "
    "labeled lang column",
)
def ext_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return (
        docs.select(TX.lang_id("text").alias("lang_pred"), F.col("lang").alias("lang_true"))
        .groupBy("lang_pred", "lang_true")
        .agg(F.count("*").alias("n"))
    )


@q(
    "ext_text_quality",
    f"""
    SELECT doc_id, {TX.sql_quality_score('text', 'duckdb')} AS quality
    FROM documents
    """,
    "deterministic [0,1] quality score (length/alpha/word-shape mix)",
)
def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


@q(
    "ext_text_fingerprint",
    f"""
    SELECT doc_id, {TX.sql_fingerprint('text', 'duckdb')} AS fp
    FROM documents
    """,
    "rolling dual-modulus 31-polynomial content fingerprint (~60-bit)",
)
def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


q("ext_dedup_exact", DD.exact_dedup_oracle(), "exact dedup via fingerprint groupBy")(DD.exact_dedup)
q("ext_dedup_minhash_pairs", DD.minhash_pairs_oracle(),
  "MinHash(16 perms, 4 bands)+LSH candidates, exact-Jaccard verified")(DD.minhash_dedup_pairs)
q("ext_dedup_simhash", DD.simhash_oracle(),
  "32-bit SimHash fingerprints (bit-sliced agg)")(DD.simhash_df)
q("ext_dedup_simhash_pairs", DD.simhash_pairs_oracle(),
  "SimHash near-dups: 8-bit-block LSH + Hamming<=3 verify")(DD.simhash_neardup_pairs)
q("ext_dedup_ngram_jaccard", DD.ngram_jaccard_oracle(),
  "char-4-gram Jaccard pairs, lang-blocked")(DD.ngram_jaccard_pairs)
q("ext_dedup_substring", DD.substring_dup_oracle(),
  "exact-substring dedup (Lee et al. ACL'22 re-expressed): per-doc "
  "duplicated 20-gram coverage at full density — hash-before-explode, "
  "only (doc_id, hash) ever shuffles")(DD.substring_dup_coverage)
q("ext_dedup_substring_spans", DD.substring_spans_oracle(),
  "the removal step of exact-substring dedup: non-canonical "
  "duplicated-gram occurrences merged into spans (gaps-and-islands), "
  "per-doc span count / removed chars / kept chars — a full rewrite "
  "plan, every document present")(DD.substring_dup_spans)
q("ext_dedup_substring_rewrite", DD.substring_rewrite_oracle(),
  "the REWRITE completing Lee et al. exact-substring dedup: emit the "
  "cleaned text itself — non-canonical duplicated spans cut by a "
  "row-local Catalyst fold over the collected span array; clean docs "
  "pass through byte-identical (round-trip property: kept_chars == "
  "length(rewritten_text) == the spans accounting's kept_chars)")(DD.substring_dup_rewrite)
q("ext_dedup_winnow", DD.winnow_pairs_oracle(),
  "winnowing fingerprints (Schleimer/MOSS SIGMOD'03): window-min "
  "selected k-grams, stop-gram capped, pair join blocked on the "
  "fingerprint — the ~4.5x-sparser scale path beside ext_dedup_substring")(DD.winnow_neardup_pairs)
q("ext_sim_brute_topk", SIM.brute_topk_oracle(),
  "exact cosine top-k (broadcast queries)")(SIM.brute_topk)
q("ext_sim_ivf_topk", SIM.ivf_topk_oracle(),
  "IVF ANN: cell assignment + probe + re-rank")(SIM.ivf_topk)
q("ext_sim_quantized_topk", SIM.quantized_topk_oracle(),
  "int8-quantized cosine top-k: symmetric per-vector quantization "
  "(scale cancels in cosine, so scoring is pure integer dots + one "
  "sqrt — bit-exact cross-engine); 4x smaller vectors, the "
  "memory-bound ANN path")(SIM.quantized_topk)
q("ext_embed_lsh_neardup", SIM.lsh_bucketed_neardup_oracle(),
  "signed-random-projection LSH bucketing + exact same-bucket cosine "
  "- the scale path for embedding near-dup")(SIM.lsh_bucketed_neardup)
q("ext_embed_neardup_pairs", SIM.embedding_neardup_oracle(),
  "embedding cosine near-dup pairs, label-blocked")(SIM.embedding_neardup_pairs)
q("ext_multimodal_stats", MM.MEDIA_STATS_ORACLE,
  "binary media columns: mapInPandas fake-decode -> per-format rollup")(MM.media_stats)
q("ext_embed_gram", SIM.embed_gram_oracle(),
  "exact-integer Gram matrix over quantized embeddings (covariance/"
  "PCA building blocks): mapInPandas d x d int64 partial per Arrow "
  "batch, 2080-row shuffle per partition regardless of corpus size")(SIM.embed_gram_matrix)
q("ext_semdedup", SIM.semdedup_oracle(),
  "SemDeDup: k-means-cell blocking + within-cell cosine dedup "
  "(cluster count scales with corpus - the principled blocking key)")(SIM.semdedup_summary)

from hbasewd_spark.operators import curation as CU  # noqa: E402

q("ext_passage_dedup", CU.passage_dedup_oracle(),
  "repeated-passage removal: 20-token segment fingerprints, "
  "skew-immune min-agg first-occurrence resolution")(CU.passage_dedup)
q("ext_domain_mixture", CU.domain_mixture_oracle(),
  "mixture reweighting: per-source sampling rates realizing a "
  "target token mixture without upsampling")(CU.domain_mixture)
q("ext_temperature_mixture", CU.temperature_mixture_oracle(),
  "temperature-scaled (alpha=0.5) language resampling with "
  "deterministic hash-bucket draws (sqrt is IEEE-exact cross-engine)")(CU.temperature_mixture)
from hbasewd_spark.operators import training as TR  # noqa: E402

q("ext_token_budget_sample", TR.token_budget_oracle(),
  "hard token-budget selection per language in seeded-hash order; "
  "two-phase hash-bucket prefix sum (bounded offsets relation "
  "broadcast back) — no language ever funnels through one window "
  "partition")(TR.token_budget_sample)
q("ext_shard_plan", TR.shard_plan_oracle(),
  "deterministic 64-way training-shard layout audit: per-shard "
  "doc/token mass + overflow-closed membership checksum; one scan, "
  "one map-side-combinable agg, reproducible on any engine")(TR.shard_plan)
q("ext_unigram_familiarity", TR.unigram_familiarity_oracle(),
  "corpus-frequency familiarity score (CCNet-perplexity stand-in): "
  "vocabulary equi-joined back by token (never pinned broadcast — "
  "Catalyst stats pick; 100-TB vocabularies degrade to an AQE "
  "skew-split shuffle join), integer-division scoring for "
  "bit-identical cross-engine results")(TR.unigram_familiarity)
from hbasewd_spark.operators import minhash_index as MHI

q("ext_dedup_incremental", MHI.incremental_dedup_oracle(),
  "incremental near-dup detection against a PERSISTED MinHash/LSH "
  "band index: corpus indexed once, new batch probed via "
  "batch-broadcast map-side joins — no corpus recompute or shuffle "
  "(the 100-TB daily-ingest shape)")(MHI.incremental_dedup)
q("ext_quality_calibration", CU.quality_calibration_oracle(),
  "per-language percentile_disc quality cutoffs hitting a target "
  "keep rate + surviving-doc counts (threshold calibration before "
  "a quality filter)")(CU.quality_calibration)
q("ext_embed_outliers", SIM.embed_outliers_oracle(),
  "semantic outlier filter: top-k farthest vectors from their own "
  "label centroid (decimal-mean centroid + exact-fold distances)")(SIM.embed_outliers)
q("ext_centroid_drift", SIM.centroid_drift_oracle(),
  "corpus-mixture monitoring: pairwise cosine between per-label "
  "embedding centroids (quantized-integer means, fixed-fold dots; "
  "the pair join is a bounded |labels|² nested loop over a "
  "broadcast centroid relation, never corpus-sized)")(SIM.centroid_drift)
q("ext_passage_scrub", CU.passage_scrub_oracle(),
  "rewrite twin of passage_dedup: documents reassembled from only "
  "their first-occurrence 20-token segments (array_sort reassembly, "
  "no windows; output carries length+md5 of the cleaned text)")(CU.passage_scrub)


TX_TOKENS_DUCK = TX.sql_tokens("text", "duckdb")

# code-vs-prose heuristic: code-punctuation density in parts-per-million
# (BIGINT arithmetic end to end — cross-engine exact at any scale; the
# count is widened BEFORE the 1e6 multiply because Spark's regexp_count
# is int32 and a ~150 KB code file overflows the product under ANSI)
_CODE_SYM_PAT = "[{}();=<>#]"
_CODE_SYM_PPM = 15_000  # >=1.5% code punctuation => code-like
# The shipped corpus is PURE prose (zero punctuation characters in any
# document — verified), so the raw detector would be vacuously
# all-false and its discriminating path unattested. The query therefore
# stages a deterministic code-decorated slice first: every 5th document
# by key hash gets a code snippet appended, proportional to its length
# (~6% punctuation density — decisively over the threshold), on BOTH
# engines identically. Real deployments drop the staging CTE.
_CODE_DECOR = " {z=(1);}"


@q(
    "ext_code_detect",
    f"""
    WITH staged AS (
      SELECT lang,
             CASE WHEN ({sql_md5_long("CAST(doc_id AS VARCHAR)", "duckdb")}) % 5 = 0
                  THEN text || repeat('{_CODE_DECOR}', greatest(length(text) // 100, 1))
                  ELSE text END AS t
      FROM documents
    ),
    scored AS (
      SELECT lang,
             length(t) AS n_chars,
             (len(regexp_extract_all(t, '{_CODE_SYM_PAT}')) * 1000000)
               // greatest(length(t), 1) AS sym_ppm
      FROM staged
    )
    SELECT lang, sym_ppm >= {_CODE_SYM_PPM} AS is_code,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(sym_ppm) AS BIGINT) AS sum_sym_ppm
    FROM scored GROUP BY lang, sym_ppm >= {_CODE_SYM_PPM}
    """,
    "code-vs-prose detection: per-document code-punctuation density "
    "(ppm, BIGINT integer-division exact), rolled up per (lang, "
    "verdict) — the cheap pre-filter a mixed crawl runs before routing "
    "documents to code vs prose pipelines. The shipped corpus is pure "
    "prose, so the query first stages a deterministic code-decorated "
    "slice (every 5th doc by key hash) so BOTH verdict branches are "
    "attested. Pure regexp+arithmetic in codegen, one "
    "map-side-combinable aggregation, zero Python",
)
def ext_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.codec import md5_long

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    decorated = F.concat(
        F.col("text"),
        F.expr(f"repeat('{_CODE_DECOR}', greatest(length(text) div 100, 1))"),
    )
    staged = docs.select(
        "lang",
        F.when(md5_long(F.col("doc_id").cast("string")) % 5 == 0, decorated)
        .otherwise(F.col("text"))
        .alias("t"),
    )
    scored = staged.select(
        "lang",
        F.length("t").alias("n_chars"),
        F.expr(
            f"(CAST(regexp_count(t, '{_CODE_SYM_PAT}') AS BIGINT) * 1000000)"
            f" div greatest(CAST(length(t) AS BIGINT), 1)"
        ).alias("sym_ppm"),
    )
    return scored.groupBy(
        "lang", (F.col("sym_ppm") >= _CODE_SYM_PPM).alias("is_code")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("sym_ppm").cast("bigint").alias("sum_sym_ppm"),
    )


@q(
    "rel_regression_agg",
    """
    WITH base AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y4,
             (epoch_us(CAST(ts AS TIMESTAMP)) - min(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id)) // 1000000 AS xs
      FROM events
    ),
    s AS (
      SELECT user_id, count(*) AS n,
             sum(xs) AS sx, sum(y4) AS sy, sum(xs*y4) AS sxy, sum(xs*xs) AS sxx
      FROM base GROUP BY user_id
    )
    SELECT user_id, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / 10000 AS slope
    FROM s WHERE n * sxx - sx * sx != 0
    """,
    "least-squares regression aggregate (per-user value-over-time "
    "trend): integer-scaled exact moment sums (x in whole seconds, y "
    "in 1e-4 units — each moment < 2^53 so the bigint->double step is "
    "exact), then identical double-space combination — the "
    "order-independent, engine-portable form of regr_slope",
)
def rel_regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    x_us = F.unix_micros(F.col("ts")) - F.min(F.unix_micros(F.col("ts"))).over(w)
    # exact integer division (a float path could round 2599.9999999996
    # up before truncation and disagree with duckdb's `//`)
    base = ev.select(
        "user_id",
        (F.col("value").cast("decimal(18,4)") * 10000).cast("bigint").alias("y4"),
        x_us.alias("x_us"),
    ).select("user_id", "y4", F.expr("x_us div 1000000").alias("xs"))
    s = base.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("xs").alias("sx"),
        F.sum("y4").alias("sy"),
        F.sum(F.col("xs") * F.col("y4")).alias("sxy"),
        F.sum(F.col("xs") * F.col("xs")).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    denom_exact = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    ) / 10000
    return s.where(denom_exact != 0).select("user_id", "n", slope.alias("slope"))


@q(
    "ext_udtf_tokenize",
    f"""
    SELECT doc_id, toks[pos] AS tok, pos FROM (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
      FROM (SELECT doc_id, {TX_TOKENS_DUCK} AS toks FROM documents) _t
    ) WHERE doc_id < 50
    """,
    "Python UDTF (table function): lateral tokenize with positions — "
    "the UDTF row in SURVEY §2.3's UDF/UDAF/UDTF surface",
)
def ext_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate(x for x in re.split(r"[^a-z0-9]+", text.lower()) if x):
                yield i + 1, t

    spark.udtf.register("wd_tokenize", Tokenize)
    return sql_on_tables(
        spark,
        sf_dir,
        "SELECT doc_id, t.tok, t.pos FROM documents, "
        "LATERAL wd_tokenize(text) t WHERE doc_id < 50",
    )


CURATION_QUALITY_MIN = 0.7


def _curation_oracle() -> str:
    quality = TX.sql_quality_score("text", "duckdb")
    lang = TX.sql_lang_id("text", "duckdb")
    fp = TX.sql_fingerprint("text", "duckdb")
    ntok = TX.sql_token_count("text", "duckdb")
    pairs = DD.minhash_pairs_oracle()
    return f"""
    WITH enriched AS (
      SELECT doc_id, source, {quality} AS quality, {lang} AS lang_pred,
             {fp} AS fp, {ntok} AS n_tokens
      FROM documents
    ),
    alive AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM enriched
        WHERE quality >= {CURATION_QUALITY_MIN} AND lang_pred = 'en'
      ) WHERE rk = 1
    ),
    removed AS (SELECT DISTINCT doc_b AS doc_id FROM ({pairs})),
    kept AS (SELECT * FROM alive WHERE doc_id NOT IN (SELECT doc_id FROM removed))
    SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(quality AS DECIMAL(18,12))) AS DOUBLE) AS sum_quality
    FROM kept GROUP BY source
    """


@q(
    "ext_pipeline_corpus_curation",
    _curation_oracle(),
    "END-TO-END training-data curation: quality gate -> language gate "
    "-> exact dedup -> MinHash near-dup removal -> per-source corpus "
    "stats. Composes the proven pieces; greedy keep-lowest-doc_id.",
)
def ext_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # r13 (VERDICT r12 #7): the quality+lang gate rides an
    # explode(array(struct)) generator whose child is an EXPRESSION. With a
    # plain select, predicate pushdown split the gate out of the projection
    # and inlined the whole quality+lang regex pipeline into a Filter BELOW
    # the parallelizing repartition — the heaviest expressions in the query
    # ran once per row on the raw scan's partitioning and then AGAIN in the
    # post-exchange Project. A filter on generator OUTPUT cannot push below
    # the Generate, so the regexes now run exactly once per row, after the
    # repartition (same fence family as substring_dup_coverage_of's
    # inline-explode; guide §2.2/§1.2). ONLY the gate columns go through
    # the fence: fingerprint (an all-chars aggregate fold) and token_count
    # stay in a projection AFTER the alive filter, so they are computed for
    # survivors only — a first fence draft put all four enrichments inside
    # the generator and measured SLOWER (fp over every row: min-of-5
    # 4.08 -> 5.79 s) than the double-regex baseline. Same expressions,
    # same rows — plan-only change.
    gated = docs.select(
        "doc_id",
        "source",
        "text",
        F.explode(
            F.array(
                F.struct(
                    TX.quality_score("text").alias("quality"),
                    TX.lang_id("text").alias("lang_pred"),
                )
            )
        ).alias("e"),
    ).where(
        (F.col("e.quality") >= CURATION_QUALITY_MIN)
        & (F.col("e.lang_pred") == "en")
    )
    alive = gated.select(
        "doc_id",
        "source",
        F.col("e.quality").alias("quality"),
        TX.fingerprint("text").alias("fp"),
        TX.token_count("text").alias("n_tokens"),
    )
    # exact dedup: keep the lowest doc_id per fingerprint
    w = Window.partitionBy("fp").orderBy("doc_id")
    alive = alive.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1).drop("rk")
    # near-dup removal: greedy — drop the higher id of each verified pair
    removed = DD.minhash_dedup_pairs(spark, sf_dir).select(F.col("doc_b").alias("doc_id")).distinct()
    kept = alive.join(removed, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("quality").cast("decimal(18,12)")).cast("double").alias("sum_quality"),
    )

q("ext_kmeans_clusters", SIM.kmeans_one_iter_oracle(),
  "one closed-form Lloyd iteration (assign -> decimal-mean centroid "
  "update -> reassign), hash-checked against DuckDB; the "
  "multi-iteration descent (SIM.kmeans_clusters) stays under "
  "property tests")(SIM.kmeans_one_iter_summary)


@q(
    "stream_windowed_agg",
    """
    SELECT time_bucket(INTERVAL '1' HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "ACTUAL Structured Streaming execution (availableNow -> memory "
    "sink) of the watermarked tumbling-window aggregation; oracle is "
    "the batch SQL equivalent",
)
def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    agg = ST.windowed_agg_stream(stream)
    return ST.run_stream_to_memory(
        spark, agg, "stream_windowed_agg_out",
        state_partitions=ST.scaled_state_partitions(spark, sf_dir),
    )


@q(
    "stream_static_enrich",
    """
    WITH feats AS (SELECT user_id, count(*) AS u_events FROM events GROUP BY 1),
    avg_e AS (SELECT CAST(sum(u_events) AS DOUBLE) / count(*) AS a FROM feats),
    tiers AS (
      SELECT user_id,
             CASE WHEN u_events >= 1.1 * a THEN 'heavy'
                  WHEN u_events <= 0.9 * a THEN 'light'
                  ELSE 'mid' END AS tier
      FROM feats, avg_e
    )
    SELECT e.event_type, t.tier, count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events e JOIN tiers t USING (user_id)
    GROUP BY 1, 2
    """,
    "ACTUAL Structured Streaming stream-static broadcast join: events "
    "stream enriched with a per-user feature tier (online feature-store "
    "lookup shape), rolled up per (event_type, tier); oracle is the "
    "batch SQL equivalent over the full table",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    feats = ST.user_features(spark, sf_dir)
    agg = ST.stream_static_enrich(stream, feats)
    return ST.run_stream_to_memory(
        spark, agg, "stream_static_enrich_out",
        state_partitions=ST.scaled_state_partitions(spark, sf_dir),
    )


@q(
    "stream_sliding_window",
    """
    SELECT time_bucket(INTERVAL '15' MINUTE, CAST(ts AS TIMESTAMP))
             - k.k * INTERVAL '15' MINUTE AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY 1, 2
    """,
    "ACTUAL Structured Streaming execution of SLIDING event-time "
    "windows (1h length, 15m slide - each event covers 4 windows); "
    "oracle expands the covering windows explicitly in batch SQL",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    agg = ST.sliding_window_stream(stream)
    return ST.run_stream_to_memory(
        spark, agg, "stream_sliding_window_out",
        state_partitions=ST.scaled_state_partitions(spark, sf_dir),
    )


_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


@q(
    "stream_session_window",
    _SESSION_WINDOW_ORACLE,
    "ACTUAL Structured Streaming session windows (session_window + "
    "watermark, availableNow -> memory sink). win.end - gap == the "
    "last event ts, so the result is hash-reconciled against the "
    "batch lag+cumsum sessionization oracle",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    agg = ST.session_window_stream(stream)
    return ST.run_stream_to_memory(
        spark, agg, "stream_session_window_out",
        state_partitions=ST.scaled_state_partitions(spark, sf_dir),
    )


def _stream_dedup_duck() -> str:
    from hbasewd_spark.functions.text import sql_fingerprint

    fp = sql_fingerprint("text", "duckdb")
    return f"""
    WITH f AS (SELECT doc_id, {fp} AS fp FROM documents)
    SELECT min(doc_id) AS doc_id, fp FROM f GROUP BY fp
    """


@q(
    "stream_dedup_ingest",
    _stream_dedup_duck(),
    "ACTUAL Structured Streaming cross-batch exact dedup: the document "
    "corpus is re-staged as 4 doc_id-range slices (ascending mtimes -> "
    "deterministic micro-batch order), streamed one file per batch "
    "through foreachBatch fingerprint+anti-join admission "
    "(streaming/ingest.py dedup_corpus_ingest) into an "
    "epoch-partitioned corpus. Because slices ascend by doc_id, the "
    "admitted set is exactly min-doc_id-per-fingerprint — the batch "
    "SQL oracle. At scale the anti-join probes a slim 8-byte/doc "
    "fingerprint relation; bucket by fp for a shuffle-free probe",
)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    from hbasewd_spark.streaming import ingest as ST

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bounds = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    lo, hi = bounds[0], bounds[1]
    if lo is None:  # empty corpus -> empty admitted set, same schema
        return spark.createDataFrame([], "doc_id bigint, fp bigint")
    # a deterministic per-sf cache root, REPLACED each invocation (not
    # mkdtemp: that stranded a corpus-sized copy per run — at most one
    # copy may ever exist, same convention as the events_salted caches)
    root = os.path.join(
        tempfile.gettempdir(), "hbasewd_cache",
        os.path.basename(os.path.normpath(sf_dir)), "stream_dedup",
    )
    _shutil.rmtree(root, ignore_errors=True)
    src, dest, ckpt = f"{root}/src", f"{root}/corpus", f"{root}/ckpt"
    n_slices = 4
    step = max((int(hi) - int(lo)) // n_slices + 1, 1)
    schema = docs.schema
    docs = docs.persist()  # 4 slice writes read one cached pass
    try:
        stamped: set[str] = set()
        base_mtime = 1_600_000_000
        for i in range(n_slices):
            a, b = int(lo) + i * step, int(lo) + (i + 1) * step
            # coalesce(1) is SEMANTIC, not cosmetic: one file == one
            # micro-batch, and the oracle equivalence (admitted ==
            # min-doc_id-per-fp) needs each doc_id-range slice
            # processed as one batch — a slice split across batches in
            # arbitrary membership order could admit a non-min doc
            docs.where(
                (F.col("doc_id") >= a) & (F.col("doc_id") < b)
            ).coalesce(1).write.mode("append").parquet(src)
            # deterministic batch order: FileStreamSource sorts by
            # mtime, so stamp each slice's files an ascending second
            for fn in _os.listdir(src):
                p = f"{src}/{fn}"
                if fn.endswith(".parquet") and p not in stamped:
                    _os.utime(p, (base_mtime + i, base_mtime + i))
                    stamped.add(p)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
        ST.dedup_corpus_ingest(stream, dest, ckpt).awaitTermination()
    except BaseException:
        # a failed drain must not leave a partial dest a later read
        # could mistake for a complete admitted set
        _shutil.rmtree(root, ignore_errors=True)
        raise
    finally:
        docs.unpersist()
        # the staged slices and checkpoint are corpus-sized scratch;
        # only dest (which the returned DataFrame reads lazily) stays
        _shutil.rmtree(src, ignore_errors=True)
        _shutil.rmtree(ckpt, ignore_errors=True)
    # read the partitioned root (not an epoch=* glob: globs make the
    # reader probe for a streaming-sink metadata dir and log a WARN)
    return spark.read.parquet(dest).select("doc_id", "fp")


# ===========================================================================
# Round-2 operators: as-of join, hierarchical time rollup, deterministic
# sampling, PII scrubbing, benchmark contamination, z-order clustering
# ===========================================================================

_ASOF_JOIN_SQL = """
WITH r0 AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM r0
  ) WHERE rn = 1
),
l AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT l.user_id, l.event_id, l.ts, r.ts AS rts, r.value AS rvalue
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT user_id, event_id, ts,
       CASE WHEN rts IS NULL OR ts - rts > INTERVAL 12 HOUR THEN NULL ELSE rts END AS ts_r,
       CASE WHEN rts IS NULL OR ts - rts > INTERVAL 12 HOUR THEN NULL ELSE rvalue END AS value_r
FROM j
"""


@q(
    "rel_asof_join",
    _ASOF_JOIN_SQL,
    "true two-relation as-of join (latest click at-or-before each "
    "purchase per user, 12h tolerance) via the union+window trick — "
    "one shuffle, no range-join candidate explosion; oracle is "
    "DuckDB's native ASOF LEFT JOIN",
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    right = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value", "event_id")
    return asof_join(
        left,
        right.select("user_id", "ts", "value", "event_id"),
        on="ts",
        by="user_id",
        value_cols=["value"],
        right_tiebreak="event_id",
        tolerance=F.expr("INTERVAL 12 HOURS"),
    )


def _register_rollup() -> None:
    from hbasewd_spark.operators.rollup import (
        INCREMENTAL_MV_ORACLE,
        TIME_ROLLUP_ORACLE,
        incremental_mv_merge,
        time_rollup,
    )

    q("rel_incremental_mv", INCREMENTAL_MV_ORACLE,
      "incremental materialized-view maintenance: base + delta "
      "partial aggregates merged by re-aggregation, hash-checked "
      "against full recompute (merge algebra == recompute)")(incremental_mv_merge)
    q("rel_time_rollup", TIME_ROLLUP_ORACLE,
      "hypertable-style multi-resolution rollup (minute/hour/day) — "
      "hierarchical re-aggregation: ONE full-data shuffle, coarser "
      "levels re-agg the previous level's composable measures")(time_rollup)


_register_rollup()


def _split_sql(dialect: str) -> str:
    from hbasewd_spark.operators.sampling import sql_split_assign

    split = sql_split_assign("doc_id", dialect)
    tokens = TX.sql_token_count("text", dialect)
    return f"""
    SELECT {split} AS split, count(*) AS n_docs,
           CAST(sum({tokens}) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM documents GROUP BY 1
    """


@q(
    "ext_train_val_test_split",
    _split_sql("duckdb"),
    "deterministic 90/5/5 train/val/test split by key hash: "
    "partitioning-independent, engine-reproducible, join-consistent",
)
def ext_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _split_sql("spark"))


def _sample_sql(dialect: str) -> str:
    from hbasewd_spark.operators.sampling import sql_sample_bucket

    bucket = sql_sample_bucket("event_id", dialect)
    return f"""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE {bucket} < (CASE event_type WHEN 'error' THEN 5000 WHEN 'purchase' THEN 2000 ELSE 500 END)
    GROUP BY event_type
    """


@q(
    "ext_deterministic_sample",
    _sample_sql("duckdb"),
    "hash-keyed stratified sampling (errors 50%, purchases 20%, rest "
    "5%): membership is a pure function of the key — stable across "
    "partitioning/retries/engines, nested across rates, join-consistent",
)
def ext_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.operators.sampling import stratified_sample

    ev = load_table(spark, sf_dir, "events")
    sampled = stratified_sample(
        ev, "event_id", "event_type",
        {"error": 0.5, "purchase": 0.2},
        default=0.05,
    )
    return sampled.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def _pii_synth(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "text || (CASE WHEN doc_id % 7 = 0 THEN ' contact: user' || "
        f"CAST(doc_id AS {cast}) || '@example.com' ELSE '' END) || "
        "(CASE WHEN doc_id % 11 = 0 THEN ' tel: +1 (415) 555-0' || "
        f"CAST(100 + doc_id % 899 AS {cast}) ELSE '' END)"
    )


def _pii_sql(dialect: str) -> str:
    from hbasewd_spark.functions.text import sql_pii_counts, sql_scrub_pii

    synth = _pii_synth(dialect)
    emails, phones = sql_pii_counts("synth", dialect)
    scrub = sql_scrub_pii("synth", dialect)
    return f"""
    WITH synth_docs AS (SELECT doc_id, source, {synth} AS synth FROM documents)
    SELECT source,
           CAST(sum({emails}) AS BIGINT) AS n_emails,
           CAST(sum({phones}) AS BIGINT) AS n_phones,
           CAST(sum(length(synth) - length({scrub})) AS BIGINT) AS chars_redacted
    FROM synth_docs GROUP BY source
    """


@q(
    "ext_text_pii_scrub",
    _pii_sql("duckdb"),
    "PII redaction (emails then phones) as pure regexp_replace — runs "
    "in whole-stage codegen at scan throughput; counts + redacted-char "
    "totals per source over deterministically synthesized PII",
)
def ext_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _pii_sql("spark"))


def _register_contamination() -> None:
    from hbasewd_spark.operators.dedup import contamination_check, contamination_oracle

    q("ext_text_contamination", contamination_oracle(),
      "benchmark decontamination: distinct token-8-gram overlap "
      "between each training doc and the held-out eval slice — "
      "hash-equi-join against the (tiny, broadcastable) eval gram set")(contamination_check)


_register_contamination()


_HH_SQL_DUCK = """
SELECT tok, n FROM (
  SELECT tok, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS tok FROM documents)
  GROUP BY tok
) WHERE rk <= 20
"""


@q(
    "ext_text_heavy_hitters",
    _HH_SQL_DUCK,
    "corpus heavy hitters: top-20 tokens by frequency — partial "
    "(map-side) counts make the shuffle proportional to the vocabulary, "
    "not the corpus; deterministic tie-break",
)
def ext_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.text import tokens
    from hbasewd_spark.operators.topk import global_topk

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return global_topk(
        counts, [F.col("n").desc(), F.col("tok").asc()], 20, rk_name=None
    ).select("tok", "n")


_MANIFEST_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _manifest_duck() -> str:
    from hbasewd_spark.functions.codec import sql_md5_long

    selects = []
    for t, k in sorted(_MANIFEST_KEYS.items()):
        h = sql_md5_long(f"CAST({k} AS VARCHAR)", "duckdb")
        selects.append(
            f"SELECT '{t}' AS table_name, count(*) AS n_rows, "
            f"CAST(sum({h}) % 4294967296 AS BIGINT) AS key_checksum FROM {t}"
        )
    return "\nUNION ALL\n".join(selects)


@q(
    "ext_dataset_manifest",
    _manifest_duck(),
    "dataset manifest for drift detection: per-table row count + "
    "order-free key checksum (sum of md5-longs taken mod 2^32 — "
    "partitioning- and engine-independent, and overflow-CLOSED: "
    "Spark sums in DECIMAL(38,0) — exact to ~10^28 rows, no ANSI "
    "overflow raise — while DuckDB sums in HUGEINT; both take the "
    "same mod 2^32, so values agree at ANY row count). The "
    "round-3 incident in one query: a silent "
    "testdata regeneration between pipeline runs changes this manifest "
    "before it breaks anything downstream. At scale: 10 independent "
    "single-pass map-side-combinable aggregations, one row per table",
)
def ext_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from hbasewd_spark.functions.codec import md5_long

    parts = []
    for t, k in sorted(_MANIFEST_KEYS.items()):
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.select(md5_long(k).cast("decimal(38,0)").alias("h"))
            .agg(
                F.count("*").alias("n_rows"),
                # DECIMAL(38,0) sum: overflow-FREE to ~10^28 rows (the
                # session runs ANSI mode, where a bigint sum would
                # RAISE — not wrap — near 2^31 rows of 32-bit hashes);
                # DuckDB sums in HUGEINT. Both exact -> pmod agrees.
                F.pmod(F.sum("h"), F.lit(2**32)).cast("long").alias("key_checksum"),
            )
            .select(F.lit(t).alias("table_name"), "n_rows", "key_checksum")
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


@q(
    "ext_url_host_stats",
    f"""
    WITH u AS (
      SELECT doc_id, lang,
             concat('https://', source, '.example.org/', lang, '/',
                    CAST(doc_id % 50 AS VARCHAR)) AS url,
             {TX.sql_token_count('text', 'duckdb')} AS n_tok
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang, n_tok,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path
      FROM u
    )
    SELECT host, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           max(length(path) - length(replace(path, '/', ''))) AS max_depth
    FROM p GROUP BY host
    """,
    "host-level crawl rollup: URLs synthesized from (source, lang, "
    "doc_id), host/path split via Spark's parse_url (JVM built-in; "
    "oracle uses the equivalent regexp), per-host doc/token/lang "
    "counts and path depth — the aggregation a domain-filtering pass "
    "ranks hosts with. At scale: one scan, map-side partial aggs on "
    "a low-cardinality host key",
)
def ext_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    u = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/"),
            F.col("lang"),
            F.lit("/"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("url"),
        TX.token_count("text").alias("n_tok"),
    )
    p = u.select(
        "doc_id",
        "lang",
        "n_tok",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
    )
    return p.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.max(
            F.length("path") - F.length(F.replace("path", F.lit("/"), F.lit("")))
        ).alias("max_depth"),
    )


def _keywords_duck() -> str:
    toks = TX.sql_tokens("text", "duckdb")
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    tk4 AS (SELECT doc_id, tok FROM tk WHERE length(tok) >= 4),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk4 GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tk4)
    SELECT doc_id, rk, tok, score FROM (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf * nd.n_docs AS DOUBLE) / df.df_t AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * nd.n_docs AS DOUBLE) / df.df_t DESC,
                        tf.tok ASC) AS rk
      FROM tf JOIN df USING (tok), nd
    ) t WHERE rk <= 3
    """


@q(
    "ext_text_keywords",
    _keywords_duck(),
    "TF-IDF keyword extraction with RATIONAL scoring (tf * N / df — "
    "one integer product + one IEEE divide, no log, so doubles are "
    "bit-exact cross-engine): top-3 terms >= 4 chars per document. At "
    "scale: tf shuffles (doc, tok) pairs with map-side combine, df is "
    "a slim tok-keyed join, N is a one-row broadcast, and the per-doc "
    "top-3 window runs on slim scored rows",
)
def ext_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    tk = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok")).where(
        F.length("tok") >= 4
    )
    # r12 optimization (guide §3.3): tf is consumed by THREE branches
    # (df_t, n_docs, the scored join). Deriving all of them from the tf
    # aggregation was only lazily shared — the column sets required by
    # each branch differ, so planning-time ReuseExchange never matched
    # and the tokenize+explode+count pipeline executed three times
    # (3 parquet scans / 3 Generates in the before-plan). The slim
    # (doc_id, tok, tf) relation — the same per-(doc, tok) pre-reduce
    # unigram_familiarity checkpoints — is pinned once; every branch
    # re-reads 3-column rows instead of re-tokenizing the corpus
    # (without it: 4.86 s instead of 2.35 s at sf1, 4 cores).
    tf = (
        tk.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df_t"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df_t")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "tok", "score")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (training-data quality filtering)
# ---------------------------------------------------------------------------

GOPHER_DUP_WORD_MAX = 0.6  # docs above these repetition levels fail
GOPHER_TOP_BIGRAM_MAX = 0.2


def _gopher_duck() -> str:
    from hbasewd_spark.functions.text import sql_tokens

    toks = sql_tokens("text", "duckdb")
    bg = (
        "list_transform(generate_series(1, len(w) - 1), "
        "i -> w[i] || ' ' || w[i + 1])"
    )
    top = (
        "list_reduce(list_prepend(0, list_transform(list_distinct(bg), "
        "b -> len(list_filter(bg, x -> x = b)))), (a, x) -> greatest(a, x))"
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS w FROM documents),
    b AS (SELECT doc_id, w, {bg} AS bg FROM t WHERE len(w) >= 2),
    sig AS (
      SELECT doc_id,
             len(w) AS n_words,
             1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
             CAST({top} AS DOUBLE) / CAST(len(bg) AS DOUBLE) AS top_bigram_frac
      FROM b
    )
    SELECT doc_id, n_words, dup_word_frac, top_bigram_frac,
           CASE WHEN dup_word_frac <= {GOPHER_DUP_WORD_MAX}
                 AND top_bigram_frac <= {GOPHER_TOP_BIGRAM_MAX}
                THEN 1 ELSE 0 END AS keep
    FROM sig
    """


@q(
    "ext_text_gopher_repetition",
    _gopher_duck(),
    "Gopher-style repetition quality signals: duplicate-word fraction "
    "and top-bigram fraction per document, plus the keep/drop verdict "
    "at the published thresholds. Pure per-row Catalyst array "
    "arithmetic — no shuffle at all, embarrassingly parallel at 100 TB",
)
def ext_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.text import tokens

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    t = docs.select("doc_id", tokens("text").alias("w")).where(F.size("w") >= 2)
    bg = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.concat(
            F.element_at("w", i), F.lit(" "), F.element_at("w", i + 1)
        ),
    )
    b = t.select("doc_id", "w", bg.alias("bg"))
    top = F.aggregate(
        F.array_distinct("bg"),
        F.lit(0),
        lambda acc, x: F.greatest(
            acc, F.size(F.filter("bg", lambda y: y == x))
        ),
    )
    sig = b.select(
        "doc_id",
        F.size("w").alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("w")).cast("double")
            / F.size("w").cast("double")
        ).alias("dup_word_frac"),
        (top.cast("double") / F.size("bg").cast("double")).alias("top_bigram_frac"),
    )
    keep = F.when(
        (F.col("dup_word_frac") <= GOPHER_DUP_WORD_MAX)
        & (F.col("top_bigram_frac") <= GOPHER_TOP_BIGRAM_MAX),
        F.lit(1),
    ).otherwise(F.lit(0))
    return sig.select(
        "doc_id", "n_words", "dup_word_frac", "top_bigram_frac", keep.alias("keep")
    )


# ---------------------------------------------------------------------------
# Stratified per-source capped sampling (corpus mixing)
# ---------------------------------------------------------------------------

STRATUM_CAP = 20


def _stratified_duck() -> str:
    from hbasewd_spark.functions.codec import sql_md5_long

    h = sql_md5_long("concat('strat-', CAST(doc_id AS VARCHAR))", "duckdb")
    return f"""
    SELECT source, rk, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY {h} ASC, doc_id ASC) AS rk
      FROM documents
    ) t WHERE rk <= {STRATUM_CAP}
    """


@q(
    "ext_sample_stratified",
    _stratified_duck(),
    "stratified deterministic sample: at most STRATUM_CAP docs per "
    "source, chosen by a seeded key hash (engine-independent, "
    "reproducible). The window is PARTITIONED by the stratum — per-"
    "stratum state only; at 100 TB a heavily skewed stratum would get "
    "the same partial-top-k treatment as any grouped top-k",
)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hbasewd_spark.functions.codec import md5_long

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    h = md5_long(F.concat(F.lit("strat-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STRATUM_CAP)
        .select("source", "rk", "doc_id")
    )


# ---------------------------------------------------------------------------
# OOV rate vs corpus vocabulary (tokenizer-coverage analysis)
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 100


def _oov_duck() -> str:
    from hbasewd_spark.functions.text import sql_tokens

    toks = sql_tokens("text", "duckdb")
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
        FROM tk GROUP BY tok
      ) t WHERE rk <= {VOCAB_TOP_K}
    ),
    per_doc AS (
      SELECT tk.doc_id,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS oov_frac
      FROM tk LEFT JOIN vocab v ON tk.tok = v.tok
      GROUP BY tk.doc_id
    )
    SELECT d.lang, d.source, count(*) AS n_docs,
           CAST(sum(CAST(oov_frac AS DECIMAL(18,12))) AS DOUBLE) AS sum_oov_frac
    FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
    GROUP BY d.lang, d.source
    """


@q(
    "ext_text_oov_rate",
    _oov_duck(),
    "out-of-vocabulary analysis: the corpus' top-VOCAB_TOP_K tokens "
    "form the vocabulary (deterministic tie-break); per-(lang, source) "
    "mean OOV token fraction. Vocabulary is a broadcastable relation; "
    "the token stream shuffles once for the frequency count and once "
    "per doc aggregation — both map-side combinable",
)
def ext_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.text import tokens
    from hbasewd_spark.operators.topk import global_topk

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    tk = docs.select("doc_id", "lang", "source", F.explode(tokens("text")).alias("tok"))
    # r12 optimization (guide §2.3/§3.3): tk fed both the vocabulary
    # count and the per-doc probe, so the corpus was tokenized+exploded
    # TWICE, and a third documents scan joined (lang, source) back on.
    # Pre-reduce the stream to per-(doc, tok) occurrence counts — the
    # map-side-combinable unigram_familiarity shape — carrying the
    # doc's (lang, source) through the grouping (doc_id is unique, so
    # the groups are identical). The vocabulary is a re-aggregation
    # (sum nn ≡ count per tok), the per-doc probe weights matches by
    # nn (sum nn ≡ token count), and the final rollup reads
    # lang/source straight off the counts — no documents re-scan,
    # integer-identical counts.
    tkc = tk.groupBy("doc_id", "lang", "source", "tok").agg(F.count("*").alias("nn"))
    vocab = global_topk(
        tkc.groupBy("tok").agg(F.sum("nn").alias("n")),
        [F.col("n").desc(), F.col("tok").asc()],
        VOCAB_TOP_K,
        rk_name=None,
    ).select("tok")
    per_doc = (
        tkc.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "tok", "left")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("nn").alias("n_tok"),
            F.sum(F.when(F.col("in_v").isNull(), F.col("nn")).otherwise(F.lit(0))).alias("n_oov"),
        )
        .select(
            "lang",
            "source",
            (F.col("n_oov").cast("double") / F.col("n_tok").cast("double")).alias(
                "oov_frac"
            ),
        )
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("oov_frac").cast("decimal(18,12)"))
        .cast("double")
        .alias("sum_oov_frac"),
    )


# ===========================================================================
# Round-5 session-3 batch 3: cohort retention, value histograms, language
# confusion, embedding dimension health, BPE merge candidates
# ===========================================================================

_HIST_BIN = 20.0  # events.value spans [0, 500): 25 fixed-width bins


@q(
    "rel_cohort_retention",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0 FROM events GROUP BY 1
    )
    SELECT date_trunc('week', f.t0) AS cohort_week,
           date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS activity_week,
           count(DISTINCT e.user_id) AS n_users,
           count(*) AS n_events
    FROM events e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    "cohort retention matrix: users bucketed by first-seen week, "
    "activity counted per (cohort, activity) week — the classic "
    "retention triangle. Two shuffles on the slim (user_id, ts) "
    "projection (first-seen agg + the matrix agg); the join is "
    "stats-driven; Monday-truncation agrees across engines",
)
def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            F.date_trunc("week", "t0").alias("cohort_week"),
            F.date_trunc("week", "ts").alias("activity_week"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@q(
    "rel_value_histogram",
    f"""
    SELECT event_type,
           CAST(floor(value / {_HIST_BIN}) AS INTEGER) AS bin,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    "fixed-width value histogram per event type (floor-division "
    "binning — identical IEEE ops on both engines, no width_bucket "
    "dialect differences). One map-side-combinable agg over a bounded "
    "(type x bin) domain; the profile step before choosing sketch "
    "bucket boundaries at scale",
)
def rel_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(_HIST_BIN)).cast("int").alias("bin"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def _lang_confusion_duck() -> str:
    det = TX.sql_lang_id("text", "duckdb")
    return f"""
    SELECT lang, {det} AS detected, count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """


@q(
    "ext_lang_confusion",
    _lang_confusion_duck(),
    "language-ID confusion matrix: labeled vs detected language, doc "
    "counts per cell — the calibration artifact for any lang-ID gate "
    "(off-diagonal mass = routing error rate per language). Pure "
    "codegen marker counting, one bounded-domain agg, zero Python",
)
def ext_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return (
        docs.select("lang", TX.lang_id("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n_docs"))
    )

_DIM_QUANT = 1_000_000  # 1e-6 quantization: xq^2 sums stay in int64


@q(
    "ext_embed_dim_stats",
    f"""
    WITH pos AS (
      -- per-row series bound: derives the dim domain from the actual
      -- array length exactly like the Spark posexplode (a hardcoded
      -- bound would count phantom NULL dims if the fixture's
      -- dimensionality ever changed)
      SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
      FROM embeddings
    ),
    dims AS (
      SELECT i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {_DIM_QUANT}.0 + 0.5)
                  AS BIGINT) AS xq
      FROM pos
    )
    SELECT dim, count(*) AS n,
           CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*) / {_DIM_QUANT}.0 AS mean_x,
           CAST(CAST(sum(xq * xq) AS BIGINT) AS DOUBLE) / count(*) / {_DIM_QUANT}.0 / {_DIM_QUANT}.0
             - (CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*) / {_DIM_QUANT}.0)
               * (CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*) / {_DIM_QUANT}.0)
             AS var_x
    FROM dims GROUP BY dim
    """,
    "embedding dimension health: per-dimension mean and variance over "
    "the corpus (dead or collapsed dimensions surface as ~zero "
    "variance — the check before trusting an embedding model's output "
    "space). Quantized-integer sums (floor x*1e6; per-dim squared "
    "sums stay in int64 to ~5e8 unit-norm vectors — ~9e6 if a "
    "dimension's magnitude reaches 1.0 — switch the partial sums to "
    "DECIMAL(38,0) beyond), then a "
    "fixed IEEE op sequence for mean/var — bit-identical cross-engine. "
    "One slim (dim, xq) aggregation, map-side combinable",
)
def ext_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.operators.similarity import _dvec

    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    dims = emb.select(F.posexplode(_dvec("embedding")).alias("dim0", "x")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x") * _DIM_QUANT + F.lit(0.5)).cast("long").alias("xq"),
    )
    q = float(_DIM_QUANT)
    agged = dims.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("xq").cast("bigint").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n") / F.lit(q)
    ex2 = F.col("s2").cast("double") / F.col("n") / F.lit(q) / F.lit(q)
    return agged.select(
        "dim",
        "n",
        mean.alias("mean_x"),
        (ex2 - mean * mean).alias("var_x"),
    )


_BPE_TOPK = 20


def _bpe_duck() -> str:
    toks = TX.sql_tokens("text", "duckdb")
    return f"""
    WITH w AS (
      SELECT unnest({toks}) AS word FROM documents
    ),
    v AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
    p AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM v WHERE length(word) >= 2
    ),
    c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair)
    SELECT pair, n FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk
      FROM c
    ) t WHERE rk <= {_BPE_TOPK}
    """


@q(
    "ext_bpe_merge_candidates",
    _bpe_duck(),
    "BPE vocabulary induction, step one: the top adjacent character "
    "pairs by corpus frequency — exactly the statistic a BPE trainer "
    "merges first. Pair extraction runs over the VOCABULARY relation "
    "(word, freq), not the corpus (the corpus-sized work is the one "
    "map-side-combinable word count), so each merge round costs a "
    "vocab scan — the only shape that survives iterated training at "
    "100 TB",
)
def ext_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.text import tokens
    from hbasewd_spark.operators.topk import global_topk

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    vocab = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = vocab.where(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("n"))
    return global_topk(
        counts, [F.col("n").desc(), F.col("pair").asc()], _BPE_TOPK, rk_name=None
    ).select("pair", "n")


def _zorder_sql(dialect: str) -> str:
    from hbasewd_spark.functions.codec import sql_zvalue16

    zv = sql_zvalue16("o_orderkey", "o_custkey", dialect)
    return f"""
    SELECT o_orderkey, o_custkey, {zv} AS zval
    FROM orders ORDER BY zval, o_orderkey LIMIT 100
    """


@q(
    "rel_zorder_key",
    _zorder_sql("duckdb"),
    "32-bit Morton (z-order) clustering key over two dimensions — the "
    "multi-dim layout key for salted tables (sort files by zval so "
    "row-group stats are tight in BOTH dims); pure codegen arithmetic",
)
def rel_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.functions.codec import zvalue16

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", zvalue16("o_orderkey", "o_custkey").alias("zval")
        )
        .orderBy("zval", "o_orderkey")
        .limit(100)
    )


_ZONEMAP_SQL = f"""
SELECT count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       min(CAST(ts AS TIMESTAMP)) AS min_ts, max(CAST(ts AS TIMESTAMP)) AS max_ts
FROM events
WHERE ts >= {_TS_LO} AND ts < {_TS_HI}
"""


@q(
    "p9_zonemap_pruned_scan",
    _ZONEMAP_SQL,
    "zone-map secondary index: per-file (lo,hi) stats collected once, "
    "range scans prune whole files driver-side before Spark plans them "
    "(at 100 TB: skips footer reads, not just row groups); residual "
    "predicate keeps results exact",
)
def p9_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.plans.distributor import HashDistributor

    t, bounds = _salted_events(spark, sf_dir, "events_zonemap", HashDistributor(8))
    pruned = t.pruned_scan("ts", bounds.lo, bounds.hi)
    return pruned.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@q(
    "stream_stream_join",
    """
    SELECT l.user_id, l.event_id AS p_id, r.event_id AS c_id,
           CAST(l.ts AS TIMESTAMP) AS p_ts, CAST(r.ts AS TIMESTAMP) AS c_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 1 HOUR
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
    """,
    "REAL watermarked stream-stream inner join (purchases x same-user "
    "clicks in the preceding hour), drained via availableNow; the "
    "time-range constraint + watermarks bound the join state — oracle "
    "is the batch range-join twin",
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    joined = ST.stream_stream_join(stream)
    return ST.run_stream_to_memory(
        spark, joined, "stream_stream_join_out",
        state_partitions=ST.scaled_state_partitions(spark, sf_dir),
        output_mode="append",
    )


_IDX_PROBES = ("scan", "merge", "vector")


def _inverted_index_sql(dialect: str) -> str:
    probes = ", ".join(f"'{t}'" for t in _IDX_PROBES)
    if dialect == "spark":
        return f"""
        WITH flat AS (
          SELECT DISTINCT doc_id,
                 explode(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) AS tok
          FROM documents
        )
        SELECT tok, count(*) AS df,
               array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x AS STRING)), ',') AS doc_ids
        FROM flat WHERE tok IN ({probes}) GROUP BY tok
        """
    return f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks
      FROM documents
    ),
    flat AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tk)
    SELECT tok, count(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM flat WHERE tok IN ({probes}) GROUP BY tok
    """


@q(
    "ext_text_inverted_index",
    _inverted_index_sql("duckdb"),
    "token -> sorted posting-list secondary index (the HBase-style "
    "inverted index pattern over the salted-table substrate) with "
    "point lookups for three probe tokens; the distinct+groupBy is "
    "one shuffle of (tok, doc_id) pairs — at 100 TB the index would "
    "be WRITTEN as a token-hash-salted table and probed per token",
)
def ext_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_on_tables(spark, sf_dir, _inverted_index_sql("spark"))


def _register_multimodal_frames() -> None:
    from hbasewd_spark.operators.multimodal import FRAME_STATS_ORACLE, frame_stats

    q("ext_multimodal_frames", FRAME_STATS_ORACLE,
      "video-style frame sampling as a 1->N mapInPandas explode "
      "(every 4th 256-byte frame per payload), rolled up per format; "
      "frame lengths are arithmetic so the oracle needs no blob ops")(frame_stats)


_register_multimodal_frames()


def _register_dedup_clusters() -> None:
    from hbasewd_spark.operators.dedup import dedup_clusters, dedup_clusters_oracle

    q("ext_dedup_clusters", dedup_clusters_oracle(),
      "near-dup pairs -> connected components -> one canonical doc "
      "per cluster (pairs alone over-delete transitive groups); "
      "log-round min-label propagation over the (tiny) dup-pair edge "
      "list; oracle is a DuckDB recursive CTE")(dedup_clusters)


_register_dedup_clusters()


def _register_winnow_clusters() -> None:
    from hbasewd_spark.operators.dedup import (
        winnow_clusters,
        winnow_clusters_oracle,
        winnow_incremental,
        winnow_incremental_oracle,
    )

    q("ext_dedup_winnow_clusters", winnow_clusters_oracle(),
      "substring-level duplicate clusters: winnow pairs -> connected "
      "components -> canonical pick (boilerplate families doc-level "
      "MinHash never links); oracle is a DuckDB recursive CTE")(winnow_clusters)
    q("ext_dedup_winnow_incremental", winnow_incremental_oracle(),
      "persisted winnow-fingerprint index probe: corpus fingerprints "
      "(stop-gram-capped at build) on disk, batch joins by hash — "
      "the substring twin of ext_dedup_incremental; corpus never "
      "refingerprinted")(winnow_incremental)


_register_winnow_clusters()


def _register_pagerank() -> None:
    from hbasewd_spark.operators.graph import pagerank_event_transitions, pagerank_oracle

    q("ext_graph_pagerank", pagerank_oracle(),
      "3-iteration damped PageRank over the event-property transition "
      "digraph (lag-window edge extraction; fixed-point 1e-9 integer "
      "arithmetic with explicit floors, so both engines agree "
      "bit-for-bit — float PageRank is not order-independent)")(pagerank_event_transitions)


_register_pagerank()


_GAPFILL_SQL_DUCK = """
WITH b AS (
  SELECT event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket_ts,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
  FROM events WHERE event_type IN ('error', 'purchase') GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_ts
  FROM bounds
),
j AS (
  SELECT s.event_type, s.bucket_ts, coalesce(b.n, 0) AS n, b.sum_value
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket_ts = b.bucket_ts
)
SELECT event_type, bucket_ts, n,
       last_value(sum_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
FROM j
"""


@q(
    "rel_ts_gapfill_locf",
    _GAPFILL_SQL_DUCK,
    "hypertable-style gap-filled per-minute series with "
    "last-observation-carried-forward: the minute spine is generated "
    "per group from (lo, hi) bounds — agg output, ~minutes x groups "
    "rows, never a full-data explode; LOCF is one window over the "
    "filled spine",
)
def rel_ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("error", "purchase")
    )
    b = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("bucket_ts")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    spine = (
        b.groupBy("event_type")
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
            ).alias("bucket_ts"),
        )
    )
    j = spine.join(b, ["event_type", "bucket_ts"], "left").select(
        "event_type",
        "bucket_ts",
        F.coalesce("n", F.lit(0)).alias("n"),
        "sum_value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "bucket_ts",
        "n",
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
    )


# ===========================================================================
# public surface consumed by __spark_entry__.py
# ===========================================================================


# The driver's correctness gate checks the FIRST 50 registry entries in
# dict order, so registry order IS the attestation rotation policy.
# Rounds 2-4 hand-curated a priority list each round; round 5 makes the
# rotation STRUCTURAL (VERDICT r4 item 1): order the registry
# oldest-attested-first from the generated attestation history
# (hbasewd_spark/attestation.py, derived from CORRECTNESS_r*.json by
# tools/gen_priority.py — regenerate after every round). Sort key:
#
#   1. oracle-less (rows-only by design) queries sort BEHIND ALL
#      oracle-backed ones — a rows-only query must never occupy one of
#      the 50 hash-gate slots regardless of how stale it is (the
#      round-3 wasted-slot lesson; made absolute in round 6 when the
#      rotation promoted rel_approx_stats into the window);
#   2. latest driver-attested round (never attested -> 0, leads);
#   3. registry insertion order (stable, deterministic).
#
# With this, "the window is exactly the stalest 50 hash-attestable
# queries" holds by construction every round, no curation needed.
def _ordered_names() -> list[str]:
    from hbasewd_spark.attestation import _REPO_ROOT, compute_last_attested

    names = list(REGISTRY)
    # rows-only attestations count ONLY for queries the registry itself
    # designates oracle-less (ADVICE r7: never inferred from row shape)
    no_oracle = {n for n in names if not REGISTRY[n].oracle}
    last, _ = compute_last_attested(_REPO_ROOT, no_oracle)
    idx = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            0 if REGISTRY[n].oracle else 1,
            last.get(n, 0),
            idx[n],
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle
    }


# Tolerance gates (VERDICT r7 #4) for queries whose values cannot
# hash-match across engines BY DESIGN (engine-specific sketches) but
# whose documented error bounds can be asserted against exact DuckDB
# values. Consumed by tools/check_oracles.py: the gate SQL yields
# per-group [lo, hi] envelopes; every Spark value must land inside its
# envelope. The driver itself still records these rows-only (it only
# knows oracle_sql), but the committed SELFCHECK carries the value gate.
TOLERANCE_GATES: dict[str, dict] = {
    "rel_approx_stats": {
        "keys": ["l_returnflag"],
        "sql": R.APPROX_STATS_GATE_SQL,
        "checks": [
            ("approx_orders", "approx_orders_lo", "approx_orders_hi"),
            ("p50", "p50_lo", "p50_hi"),
            ("p90", "p90_lo", "p90_hi"),
            ("p99", "p99_lo", "p99_hi"),
            ("n", "n_lo", "n_hi"),
        ],
    },
}


def tolerance_gates() -> dict[str, dict]:
    return dict(TOLERANCE_GATES)
