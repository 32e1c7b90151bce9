"""Relational query surface (SURVEY.md §2.3).

The reference delegates all relational work to HBase scan options; the
engine exposes Spark's native relational operators directly. This
module holds the DataFrame-API implementations used by the query
registry — each written the way you'd want the plan to look at 100 TB:
dimension joins broadcast, aggregations decimal-typed for exactness
(and order-independence, so results are reproducible under any
partitioning), window functions partitioned to shuffle once.

Numeric discipline: every SUM over parquet doubles goes through a
DECIMAL cast so partial aggregation order cannot perturb low bits, then
casts back to double — making results bit-identical across Spark,
DuckDB, and any executor count. AVG is expressed as
``cast(decimal_sum as double) / count`` for the same reason.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from hbasewd_spark.operators.topk import global_topk
from hbasewd_spark.sources.loaders import load_table, sql_on_tables

MONEY = "decimal(18,4)"


def dec(col: str | Column, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, typ: str = MONEY) -> Column:
    """Order-independent sum of a double column (via decimal), as double."""
    return F.sum(dec(col, typ)).cast("double")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over lineitem: grouped 8-aggregate scan.

    At scale: a single map-side-combinable hash aggregate over the
    parquet scan — no join, one shuffle on the tiny group domain."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(12,4)") - dec("l_discount", "decimal(12,4)"))
    # intermediate cast keeps the product chain within 38-digit decimal
    # precision on BOTH engines (raw (32,8)x(9,4) would overflow to 42
    # and Spark/DuckDB reduce precision differently -> low-bit drift)
    charge = disc_price.cast("decimal(24,8)") * (F.lit(1).cast("decimal(8,4)") + dec("l_tax", "decimal(8,4)"))
    # decimal -> double casts are only bit-identical across engines when
    # the scaled integer fits 2^53 (DuckDB converts int128 then divides,
    # double-rounding otherwise). The products have bounded *effective*
    # scale (prices/discounts/taxes carry 2 decimals each), so reducing
    # to that scale first is exact and keeps the numerator small.
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(25,4)").cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(27,6)").cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec("l_discount", "decimal(12,4)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# Decimal -> double in the oracle goes through a VARCHAR round-trip:
# DuckDB's direct cast converts the int128 numerator to double and THEN
# divides by 10^scale — two roundings, 1 ulp off Spark's correctly
# rounded java.math conversion once the scaled integer passes 2^53
# (first bites at sf1: sum_charge ≈ 2.8e16 at scale 6). String -> double
# is correctly rounded in both engines at any magnitude.
Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(25,4)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(24,8)) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS DECIMAL(27,6)) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def join_broadcast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast of the dimension — at 100 TB
    the customer dim is MBs while orders is TBs; broadcasting avoids
    shuffling the fact table entirely."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


JOIN_BROADCAST_ORACLE = """
SELECT c_mktsegment,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def join_multiway_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ orders ⋈ customer ⋈ nation ⋈ region.

    Broadcast hints go ONLY on the catalog-sized dims (nation: 25
    rows, region: 5 — bounded by the world, not the SF). orders and
    customer GROW with the data, so they're pinned shuffle_hash like
    the other fact-fact joins in this suite (Q5/Q9/Q12): the original
    all-broadcast shape measured 19.8s at sf10 vs 4.3s pinned, and
    leaving them un-hinted is no safer — Catalyst's threshold reads
    COMPRESSED parquet size, so a <64MB file can explode into a
    GB-scale broadcast hash table (measured: auto still chose
    broadcast at sf10, 1.3-2.4x slower, and a driver OOM at larger
    SFs). shuffle_hash keeps one deterministic plan at every scale;
    at tiny SF the extra exchange moves KBs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(12,4)") - dec("l_discount", "decimal(12,4)"))
    return (
        li.join(orders.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).hint("shuffle_hash"), li.l_orderkey == F.col("o_orderkey"))
        .join(customer.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.sum(revenue).cast("decimal(25,4)").cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


JOIN_MULTIWAY_ORACLE = """
SELECT r_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) and left_anti (NOT EXISTS) — per nation, how
    many customers have / don't have orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return (
        customer.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .join(with_orders, "c_nationkey", "left")
        .join(without_orders, "c_nationkey", "left")
        .select(
            "c_nationkey",
            "n_customers",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


JOIN_SEMI_ANTI_ORACLE = """
SELECT c_nationkey,
       count(*) AS n_customers,
       count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
       count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
FROM customer
GROUP BY c_nationkey
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total + sequence number — one shuffle
    on o_custkey, sort within partition (no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.sum(dec("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double").alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


WINDOW_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS order_seq,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       lag(o_orderkey) OVER w AS prev_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per market segment — windowed top-k,
    the scalable alternative to a global sort+limit."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
    )


TOPK_ORACLE = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) t WHERE rk <= 3
"""


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
        )
    )


ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n,
       grouping(l_returnflag) AS g_flag,
       grouping(l_linestatus) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count("*").alias("n"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
        )
    )


CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over nation-key sets."""
    customer = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supplier = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = customer.intersect(supplier).withColumn("op", F.lit("both"))
    cust_only = customer.distinct().exceptAll(supplier.distinct()).withColumn("op", F.lit("customer_only"))
    any_n = customer.union(supplier).distinct().withColumn("op", F.lit("any"))
    return both.unionByName(cust_only).unionByName(any_n).select("op", "nk")


SET_OPS_ORACLE = """
SELECT 'both' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
UNION ALL
SELECT 'customer_only' AS op, nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier) t2
UNION ALL
SELECT 'any' AS op, nk FROM
  (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier) t3
"""


def scalar_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / math / date scalar functions, all Catalyst built-ins."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#1")), F.lit("OTHER")).alias("brand_or_other"),
    )


SCALAR_ORACLE = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       substring(p_type, 1, 5) AS type_prefix,
       concat_ws('|', p_brand, p_type) AS brand_type,
       abs(p_size - 25) AS size_dev,
       p_size % 5 AS size_mod,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       coalesce(nullif(p_brand, 'Brand#1'), 'OTHER') AS brand_or_other
FROM part
"""


def date_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            dec("o_totalprice").alias("price_dec"),
        )
        .groupBy("y", "q", "m", "month_start")
        .agg(F.sum("price_dec").cast("double").alias("revenue"), F.count("*").alias("n"))
    )


DATE_ORACLE = """
SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q, month(o_orderdate) AS m,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM orders GROUP BY 1, 2, 3, 4
"""


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per user-decile × event type."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("user_decile", (F.col("user_id") % 10).cast("int"))
        .groupBy("user_decile")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


PIVOT_ORACLE = """
SELECT CAST(user_id % 10 AS INTEGER) AS user_decile,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY 1
"""


def range_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: for a sample of orders, count events whose
    ts falls in [min_ts + k hours, +6h) derived from the order key — a
    pure interval-overlap join. At 100 TB this is the shape you bucket
    by time and equi-join on bucket; here the demonstrator keeps the
    build side tiny so Spark broadcasts it (nested-loop with broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 199 == 0)
    tmin = ev.agg(F.min("ts").alias("t0"))
    win = (
        orders.crossJoin(F.broadcast(tmin))
        .select(
            "o_orderkey",
            (F.col("t0") + F.make_interval(hours=(F.col("o_orderkey") % 600).cast("int"))).alias("win_lo"),
            (F.col("t0") + F.make_interval(hours=((F.col("o_orderkey") % 600) + 6).cast("int"))).alias("win_hi"),
        )
    )
    joined = ev.join(
        F.broadcast(win),
        (ev.ts >= win.win_lo) & (ev.ts < win.win_hi),
        "inner",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("*").alias("n_events"), dsum("value").alias("sum_value")
    )


RANGE_JOIN_ORACLE = """
WITH t0 AS (SELECT min(ts) AS t0 FROM events),
win AS (
  SELECT o_orderkey,
         t0 + (o_orderkey % 600) * INTERVAL '1' HOUR AS win_lo,
         t0 + ((o_orderkey % 600) + 6) * INTERVAL '1' HOUR AS win_hi
  FROM orders, t0 WHERE o_orderkey % 199 = 0
)
SELECT o_orderkey, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events JOIN win ON ts >= win_lo AND ts < win_hi
GROUP BY o_orderkey
"""


def asof_prev_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (previous-row) join expressed Spark-first: lag() over the
    per-user event stream — one shuffle on user_id, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
    )


ASOF_ORACLE = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       lag(event_id) OVER w AS prev_event_id,
       epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle timeout): lag + cumulative
    sum of session-break flags — the batch twin of
    session_window() in streaming."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    with_sess = ev.select("user_id", "event_id", "ts", sess_id.alias("session_id"))
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         -- DuckDB sum(INTEGER) OVER w is HUGEINT (int128); cast to BIGINT so
         -- the driver's value hash matches Spark's LongType session_id.
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY user_id, session_id
"""


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows — the batch twin of the
    streaming windowed aggregation (streaming/ingest.py runs the same
    plan via readStream; see tests/test_streaming.py for parity)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "sum_value")
    )


TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1' HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ===========================================================================
# Wave 4: JSON, advanced windows, subqueries, string agg, unpivot
# ===========================================================================


def json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events.props payload column —
    extraction stays in codegen (get_json_object), no UDFs."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
        )
    )


JSON_ORACLE = """
SELECT event_type, count(*) AS n,
       -- sum(INTEGER) is HUGEINT in DuckDB; BIGINT matches Spark's sum(int).
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_distinct_k
FROM events GROUP BY event_type
"""


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic window battery: rank, dense_rank, ntile,
    percent_rank, cume_dist, first/last over a running frame, lead."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w_price).alias("price_rank"),
        F.dense_rank().over(w_price).alias("price_dense_rank"),
        F.ntile(4).over(w_price).alias("price_quartile"),
        F.percent_rank().over(w_price).alias("price_pct_rank"),
        F.cume_dist().over(w_price).alias("price_cume_dist"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("last_so_far"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


WINDOW_ANALYTICS_ORACLE = """
SELECT o_custkey, o_orderkey,
       rank() OVER wp AS price_rank,
       dense_rank() OVER wp AS price_dense_rank,
       ntile(4) OVER wp AS price_quartile,
       percent_rank() OVER wp AS price_pct_rank,
       cume_dist() OVER wp AS price_cume_dist,
       first_value(o_orderkey) OVER w AS first_orderkey,
       last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_so_far,
       lead(o_orderkey) OVER w AS next_orderkey
FROM orders
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per part-size cohort, revenue of parts within
    ±2 size units (a value-range sliding window, not a row count)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_size").rangeBetween(-2, 2)
    return part.select(
        "p_brand",
        "p_partkey",
        "p_size",
        F.count("*").over(w).alias("n_nearby_sizes"),
        F.sum(dec("p_retailprice")).over(w).cast("double").alias("nearby_revenue"),
    )


RANGE_FRAME_ORACLE = """
SELECT p_brand, p_partkey, p_size,
       count(*) OVER w AS n_nearby_sizes,
       CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS nearby_revenue
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_size RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


def subquery_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / IN / scalar subqueries via SQL (Catalyst rewrites them
    into semi joins — same plan family the DataFrame API produces)."""
    return sql_on_tables(spark, sf_dir, SUBQUERY_SQL_SPARK)


SUBQUERY_SQL_SPARK = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       count(CASE WHEN EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000
       ) THEN 1 END) AS n_big_spenders,
       count(CASE WHEN c_nationkey IN (
           SELECT n_nationkey FROM nation WHERE n_regionkey = 0
       ) THEN 1 END) AS n_region0,
       count(CASE WHEN c_acctbal > (SELECT avg(c_acctbal) FROM customer) THEN 1 END) AS n_above_avg
FROM customer
GROUP BY c_mktsegment
"""

SUBQUERY_ORACLE = SUBQUERY_SQL_SPARK  # identical text runs on DuckDB


def string_agg_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: sorted concat of customer ids
    per (nation, segment) — collect_list + array_sort + concat (the
    order-stable form; raw collect_list order is partition-dependent)."""
    cust = load_table(spark, sf_dir, "customer")
    small = cust.where(F.col("c_custkey") % 20 == 0)
    return (
        small.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list(F.col("c_custkey").cast("string")))
            ).alias("custkeys"),
            F.count("*").alias("n"),
        )
    )


STRING_AGG_ORACLE = """
SELECT c_nationkey, c_mktsegment,
       string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY CAST(c_custkey AS VARCHAR)) AS custkeys,
       count(*) AS n
FROM customer WHERE c_custkey % 20 = 0
GROUP BY c_nationkey, c_mktsegment
"""


def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long) via stack: one row per (part, measure)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice)"
        ).alias("measure", "value"),
    ).where(F.col("p_partkey") < 100)


UNPIVOT_ORACLE = """
SELECT p_partkey, measure, value FROM (
  SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value FROM part
) t WHERE p_partkey < 100
"""


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximations (HLL++ distinct, quantile sketch) —
    no cross-engine oracle (sketches differ by design); the driver
    records a rows-only check and tests bound the error vs exact."""
    li = load_table(spark, sf_dir, "lineitem")
    # Quantiles emitted as three scalar columns (not one array column):
    # scalar columns keep the output hashable/sortable by generic harnesses.
    q = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        q.getItem(0).alias("p50"),
        q.getItem(1).alias("p90"),
        q.getItem(2).alias("p99"),
        F.count("*").alias("n"),
    )


# Tolerance gate for approx_stats (VERDICT r7 #4): the sketches cannot
# hash-match across engines, but their DOCUMENTED error bounds can be
# asserted against exact DuckDB values — upgrading the registry's one
# rows-only query to a real value gate. Bounds:
#  * approx_count_distinct: default rsd = 0.05 (5% relative standard
#    deviation) -> gate at 3*rsd = +-15% (a ~99.7% envelope; HLL++ is
#    unbiased, so a systematic bug lands far outside it);
#  * percentile_approx(accuracy=10000): guaranteed RANK error
#    <= 1/accuracy = 1e-4 in quantile space -> gate between the exact
#    discrete percentiles at q -+ 5e-4 (the documented bound plus
#    boundary slack for the two engines' rank-rounding conventions);
#  * n: exact count, gate is equality.
APPROX_STATS_GATE_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) * 0.85 AS DOUBLE) AS approx_orders_lo,
       CAST(count(DISTINCT l_orderkey) * 1.15 AS DOUBLE) AS approx_orders_hi,
       percentile_disc(0.4995) WITHIN GROUP (ORDER BY l_extendedprice) AS p50_lo,
       percentile_disc(0.5005) WITHIN GROUP (ORDER BY l_extendedprice) AS p50_hi,
       percentile_disc(0.8995) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_lo,
       percentile_disc(0.9005) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_hi,
       percentile_disc(0.9895) WITHIN GROUP (ORDER BY l_extendedprice) AS p99_lo,
       percentile_disc(0.9905) WITHIN GROUP (ORDER BY l_extendedprice) AS p99_hi,
       count(*) AS n_lo,
       count(*) AS n_hi
FROM lineitem GROUP BY l_returnflag
"""


EXACT_STATS_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       count(*) AS n,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
       percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99
FROM lineitem GROUP BY l_returnflag
"""


def exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of ``approx_stats``: exact COUNT(DISTINCT)
    and DISCRETE percentiles. percentile_disc picks an actual data
    element (no interpolation arithmetic), so the doubles are
    bit-identical cross-engine — unlike percentile_cont, whose
    interpolation is engine-specific floating point. The SQL text is
    identical in both dialects. At scale: count(distinct) is a
    two-level hash agg; percentile_disc is a sort-based agg per group —
    both shuffle only (flag, value) pairs, never whole rows."""
    return sql_on_tables(spark, sf_dir, EXACT_STATS_SQL)


# ===========================================================================
# Wave 6: CDC upsert, more TPC-H shapes, collection functions
# ===========================================================================


def cdc_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert demo with a deterministic change set: keys
    divisible by 7 get repriced (+1000), and a shifted copy of keys
    divisible by 997 arrives as inserts. Output is the post-merge
    per-status rollup."""
    from hbasewd_spark.operators.cdc import upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    inserts = (
        orders.where(F.col("o_orderkey") % 997 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    merged = upsert(orders, updates.unionByName(inserts), "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("revenue"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


CDC_UPSERT_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
inserts AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 997 = 0
),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
  UNION ALL SELECT * FROM changes
)
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM merged GROUP BY o_orderstatus
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late lineitem
    (EXISTS -> left_semi), counted per priority."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    window = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        window.join(li, window.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00')
GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single aggregate — the query whose
    entire cost is scan pruning (predicates reach the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * dec("l_discount", "decimal(12,4)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(revenue).cast("decimal(25,4)").cast("double").alias("revenue"),
             F.count("*").alias("n"))
    )


Q6_ORACLE = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.05 AND l_quantity < 24
"""


def collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/map/struct + higher-order function gallery, per order:
    sorted quantity array, transformed/filtered views, existence
    predicates, in-array aggregation, map construction."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("int"))).alias("qtys"),
        F.array_sort(F.collect_list(F.struct(F.col("l_linenumber").alias("ln"),
                                             F.col("l_quantity").cast("int").alias("q")))).alias("lines"),
    )
    return per_order.select(
        "l_orderkey",
        F.size("qtys").alias("n_lines"),
        F.element_at("qtys", 1).alias("min_qty"),
        F.element_at("qtys", -1).alias("max_qty"),
        F.aggregate("qtys", F.lit(0), lambda a, x: a + x).alias("sum_qty"),
        F.size(F.filter("qtys", lambda x: x >= 25)).alias("n_big"),
        F.exists("qtys", lambda x: x == 1).cast("int").alias("has_single"),
        F.forall("qtys", lambda x: x > 0).cast("int").alias("all_positive"),
        F.concat_ws(",", F.transform("qtys", lambda x: (x * 2).cast("string"))).alias("doubled_csv"),
        # l_linenumber repeats within an order in this dataset -> a
        # map would hit DUPLICATED_MAP_KEY; take the first (ln,q) entry
        # for line 1 from the sorted struct array instead
        F.try_element_at(F.filter("lines", lambda s: s["ln"] == 1), F.lit(1))["q"].alias("qty_of_line1"),
    )


COLLECTION_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys,
         list_sort(list(struct_pack(ln := l_linenumber, q := CAST(l_quantity AS INTEGER)))) AS lines
  FROM lineitem WHERE l_orderkey % 97 = 0
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qtys) AS n_lines,
       qtys[1] AS min_qty,
       qtys[-1] AS max_qty,
       list_reduce(list_prepend(0, qtys), (a, x) -> a + x) AS sum_qty,
       len(list_filter(qtys, x -> x >= 25)) AS n_big,
       CAST(len(list_filter(qtys, x -> x = 1)) > 0 AS INTEGER) AS has_single,
       CAST(len(list_filter(qtys, x -> x <= 0)) = 0 AS INTEGER) AS all_positive,
       array_to_string(list_transform(qtys, x -> CAST(x * 2 AS VARCHAR)), ',') AS doubled_csv,
       list_filter(lines, s -> s.ln = 1)[1].q AS qty_of_line1
FROM per_order
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic
    top-10 (row_number with full tiebreak, not a bare limit — bare
    limit over ties is nondeterministic under partitioning)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(12,4)") - dec("l_discount", "decimal(12,4)"))
    # orders is barely reduced by its date filter and customer only
    # 1/5 by segment — both grow with the SF, so the joins are pinned
    # shuffle_hash (broadcast measured 1.7x slower at sf10 and is a
    # driver OOM at 100 TB; auto-thresholding trusts COMPRESSED size)
    grouped = (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("decimal(25,4)").cast("double").alias("revenue"))
    )
    return global_topk(
        grouped, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    ).select("rk", "l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


Q3_ORACLE = """
WITH grouped AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(25,4)) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    AND EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT rk, l_orderkey, revenue, o_orderdate, o_orderpriority FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rk FROM grouped
) t WHERE rk <= 10
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact-dim join + conditional aggregation — the
    promo share of revenue for one ship month. part is broadcast (dims
    stay under the broadcast threshold at any corpus scale where the
    part catalogue is bounded); the CASE rides inside the partial agg."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,4)") - dec("l_discount", "decimal(12,4)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast("decimal(18,4)")))
            .cast("decimal(25,4)")
            .cast("double")
            / F.sum(rev).cast("decimal(25,4)").cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n"),
    )


Q14_ORACLE = """
SELECT 100.0 * CAST(CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
             THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(25,4)) AS DOUBLE)
       / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(25,4)) AS DOUBLE)
       AS promo_revenue_pct,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (hypertable analytics): each observation
    weighted by how long it was current — the honest mean of an
    irregularly-sampled series. One window (lead) + one aggregation;
    weights are exact integer microseconds, products summed in decimal
    so the fold order can't perturb the double result."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    dt = (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt_us")
    # operand precisions sized to the data (value < 1e6, dt < 1e14 us)
    # so the product type is decimal(25,4) — EXACT; a (18,4)x(20,0)
    # multiply would exceed precision 38 and Spark would shave scale
    obs = ev.select("event_type", F.col("value").cast("decimal(10,4)").alias("v"), dt)
    kept = obs.where(F.col("dt_us").isNotNull())
    # the num/den sums are ~19-digit decimals; decimal->double casts are
    # 1-ulp engine-dependent at that width, so the metric is defined
    # rounded to 6 decimals (part of the operator contract, mirrored in
    # the oracle) — stable under any summation/conversion path
    return kept.groupBy("event_type").agg(
        F.round(
            F.sum((F.col("v") * F.col("dt_us").cast("decimal(14,0)")).cast("decimal(25,4)"))
            .cast("decimal(38,4)").cast("double")
            / F.sum("dt_us").cast("double"),
            6,
        ).alias("twa_value"),
        F.count("*").alias("n_intervals"),
    )


TWA_ORACLE = """
WITH obs AS (
  SELECT event_type, CAST(value AS DECIMAL(19,4)) AS v,
         epoch_us(lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP), event_id))
           - epoch_us(CAST(ts AS TIMESTAMP)) AS dt_us
  FROM events
)
SELECT event_type,
       round(CAST(CAST(sum(CAST(v * CAST(dt_us AS DECIMAL(19,0)) AS DECIMAL(25,4))) AS DECIMAL(38,4)) AS DOUBLE)
         / CAST(sum(dt_us) AS DOUBLE), 6) AS twa_value,
       count(*) AS n_intervals
FROM obs WHERE dt_us IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# additional TPC-H shapes over the available schema (no partsupp /
# shipmode columns in TESTDATA, so Q2/Q9/Q12 have no faithful mapping;
# Q7/Q10/Q15/Q18/Q19 below are the standard shapes adapted to the
# columns that exist)
# ---------------------------------------------------------------------------

def _revenue() -> Column:
    return dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,4)") - dec("l_discount", "decimal(12,4)")
    )


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))"
)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The supplier->nation and customer->nation sides are each
    filtered to the two nations BEFORE joining (2/25 of each dim) and
    broadcast — the lineitem/orders join is the only shuffle, and at
    100 TB it's the unavoidable fact-fact one (orders co-partitionable
    by orderkey via bucketing, sources/bucketed.py)."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(n1, n2))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_revenue()).cast("decimal(25,4)").cast("double").alias("revenue"))
    )


Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(sum({_REV_SQL}) AS DECIMAL(25,4)) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
) t
GROUP BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer for one
    quarter, deterministic top-20. Orders are date-filtered at the scan
    (one quarter ~ 4% of the fact), lineitem filtered to returns;
    customer/nation broadcast; one groupBy on c_custkey."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    grouped = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_revenue()).cast("decimal(25,4)").cast("double").alias("revenue"))
        # customer grows with the SF — shuffle_hash, not broadcast
        # (both sides of this seam are customer-cardinality relations)
        .join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", F.col("n_name"))
    )
    return global_topk(
        grouped, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20
    ).select("rk", "c_custkey", "c_name", "revenue", "c_acctbal", "n_name")


Q10_ORACLE = f"""
WITH grouped AS (
  SELECT c_custkey, c_name,
         CAST(CAST(sum({_REV_SQL}) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
         c_acctbal, n_name
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
SELECT rk, c_custkey, c_name, revenue, c_acctbal, n_name FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rk FROM grouped
) t WHERE rk <= 20
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — an aggregate + scalar-subquery-on-aggregate. The revenue
    relation is computed ONCE and self-compared via a broadcast of the
    1-row max (no recompute, no cross join): at scale the per-supplier
    relation is |suppliers| rows, trivially rebroadcastable.

    Equality on revenue is exact because both engines fold the sum in
    decimal and cast identically (module docstring discipline)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_revenue()).cast("decimal(25,4)").cast("double").alias("total_revenue"))
        # r12 optimization (guide §3.3): the docstring's "computed
        # ONCE" was only lazily true — rev feeds the max subquery AND
        # the equality join, and Catalyst inlined the quarterly
        # lineitem aggregation into both (2 fact scans; their filters
        # differ, so the exchanges are not reused). Pinning the
        # |suppliers|-row aggregate makes it literal: without it the
        # query took 0.94 s instead of 0.60 s at sf1 (4 cores).
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
    )


Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(CAST(sum({_REV_SQL}) AS DECIMAL(25,4)) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (sum qty > threshold).
    The per-order quantity aggregate is computed ONCE and reused as
    both the filter and the output measure — the classic Q18 rewrite
    that avoids scanning lineitem twice. The surviving orders are a
    tiny fraction (threshold at ~p99), so the orders/customer joins
    run on a sliver; orders join is a broadcast of the sliver against
    the orders table, never a full shuffle of either fact."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > F.lit(250).cast("decimal(18,4)"))
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        # big (the HAVING sliver) stays broadcast — selective by
        # construction; customer grows with the SF -> shuffle_hash
        .join(cust.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
    )
    return global_topk(
        j.select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        ),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        100,
    )


Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > CAST(250 AS DECIMAL(18,4))
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty, rk FROM (
  SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN big ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
) t WHERE rk <= 100
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a 3-way disjunction of
    (brand, size-range, quantity-range) conditions. The part-side
    conjuncts prune the broadcast dim BEFORE the join; the disjunction
    over joined attributes stays a single codegen'd predicate — no
    union-of-three-scans (which would read lineitem three times)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (
            (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
            | (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
            | (F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 50)
        )
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).where(
        (F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11)
        | (F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20)
        | (F.col("p_brand") == "Brand#24") & F.col("l_quantity").between(20, 30)
    )
    return j.agg(
        F.sum(_revenue()).cast("decimal(25,4)").cast("double").alias("revenue"),
        F.count("*").alias("n"),
    )


Q19_ORACLE = f"""
SELECT CAST(CAST(sum({_REV_SQL}) AS DECIMAL(25,4)) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


LATERAL_SQL = """
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 3
) top_orders
WHERE c_custkey % 10 = 0
"""


def lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: top-3 orders per customer, written as a
    lateral subquery (identical text runs on DuckDB). Catalyst rewrites
    the correlated limit into a window-ranked join — same plan family
    as rel_topk_per_group, exposed through the SQL surface the way a
    migrating user would write it."""
    return sql_on_tables(spark, sf_dir, LATERAL_SQL)


LATERAL_ORACLE = LATERAL_SQL  # identical text runs on DuckDB


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with nulls manufactured on both sides: a
    truncated customer dim against the per-customer order aggregate —
    customers without orders null out the right, orders from truncated
    customers null out the left. Shuffle join on the key (full outer
    can't broadcast either side — both must see all partitions)."""
    orders = load_table(spark, sf_dir, "orders")
    ordagg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("sum_totalprice"),
    )
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    return (
        cust.join(ordagg, cust.c_custkey == ordagg.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            "sum_totalprice",
        )
    )


JOIN_FULL_OUTER_ORACLE = """
WITH ordagg AS (
  SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_totalprice
  FROM orders GROUP BY o_custkey
),
cust AS (SELECT * FROM customer WHERE c_custkey < 500)
SELECT coalesce(c_custkey, o_custkey) AS custkey,
       c_mktsegment,
       coalesce(n_orders, 0) AS n_orders,
       sum_totalprice
FROM cust FULL OUTER JOIN ordagg ON c_custkey = o_custkey
"""


def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for lineitem in ONE aggregation
    pass: row count, per-column min/max/null-count, and exact NDV for
    the key columns. This is the stats substrate a cost-based optimizer
    (or a human sizing a join) reads; at 100 TB you'd swap the exact
    COUNT(DISTINCT) (one extra shuffle per distinct column via Spark's
    expand) for approx_count_distinct — same single-scan shape, no
    expand. Emitted as one row of typed columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count_distinct(F.col("l_quantity")).alias("ndv_qty"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.count_distinct(F.col("l_orderkey")).alias("ndv_orderkey"),
        F.count_distinct(F.col("l_partkey")).alias("ndv_partkey"),
        (F.count("*") - F.count("l_returnflag")).alias("nulls_returnflag"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


TABLE_STATS_ORACLE = """
SELECT count(*) AS n_rows,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       count(DISTINCT l_quantity) AS ndv_qty,
       min(l_shipdate) AS min_shipdate,
       max(l_shipdate) AS max_shipdate,
       count(DISTINCT l_orderkey) AS ndv_orderkey,
       count(DISTINCT l_partkey) AS ndv_partkey,
       count(*) - count(l_returnflag) AS nulls_returnflag,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem
"""


TIME_RANGE_FRAME_SQL = """
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window as a RANGE frame over an INTERVAL —
    per event: activity in the trailing hour. One shuffle (partition by
    user); the frame is evaluated by a running two-pointer pass over
    each sorted partition, never a self-join. The time-series twin of
    rel_range_frame's numeric RANGE."""
    return sql_on_tables(spark, sf_dir, TIME_RANGE_FRAME_SQL)


# DuckDB reads the nanos timestamp natively; cast to micros TIMESTAMP so
# frame boundaries match Spark's micros session reads exactly
TIME_RANGE_FRAME_ORACLE = """
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# ordered event funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
    AND e.ts <= s1.t1 + INTERVAL '24' HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
    AND e.ts <= s2.t2 + INTERVAL '24' HOUR
  GROUP BY e.user_id
),
stages AS (
  SELECT u.user_id,
         (CASE WHEN s3.user_id IS NOT NULL THEN 3
               WHEN s2.user_id IS NOT NULL THEN 2
               WHEN s1.user_id IS NOT NULL THEN 1
               ELSE 0 END) AS stage
  FROM (SELECT DISTINCT user_id FROM ev) u
  LEFT JOIN s1 ON u.user_id = s1.user_id
  LEFT JOIN s2 ON u.user_id = s2.user_id
  LEFT JOIN s3 ON u.user_id = s3.user_id
)
SELECT stage, count(*) AS n_users FROM stages GROUP BY stage
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: per user, the
    deepest prefix of view -> click -> purchase reached IN TIMESTAMP
    ORDER with a 24-hour conversion window per hop (a click before any
    view, or later than a day after it, does not count), then user
    counts per stage. The sequential-min formulation (stage-k time = min ts of
    the stage event at or after stage k-1's time) avoids any per-user
    event sort: three min-aggregations over the slim (user, type, ts)
    relation, each map-side combinable, joined on user_id — the
    standard product-analytics funnel at data-warehouse scale.

    r12 optimization (guide §2.4/§3.3): the previous shape ran
    FUNNEL_ORACLE's CTE chain on Spark too, and Catalyst inlines every
    CTE reference, so the plan scanned events SEVEN times. The
    DataFrame form has three stage passes (view-min; clicks joined to
    s1; purchases joined to s2), each a per-user aggregate (one row per
    user), and the final stage CASE joins the three slim relations. The
    per-user aggregate doubles as the DISTINCT user set, removing the
    oracle's fourth scan. DuckDB keeps the CTE text (oracle only needs
    to be correct, not fast); min-of-timestamp semantics are exact on
    both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    day = F.expr("INTERVAL '24' HOUR")
    # one row per distinct user (the oracle's u) + first-view time (s1).
    # A NULL user_id groups here like SQL's GROUP BY, but every oracle
    # join is an equality on user_id (never matches NULL), so the stage
    # CASE below pins NULL users to stage 0 explicitly.
    # has_view mirrors the oracle's s1 membership (ADVICE r12 #4): s1
    # GROUPs every user with ANY view event, so a user whose only view
    # rows carry a NULL ts still lands at stage 1 (t1 NULL, s1.user_id
    # NOT NULL). Keying stage 1 on t1 IS NOT NULL instead would demote
    # exactly those users to stage 0. The s2/s3 paths are unaffected:
    # e.ts >= NULL never matches, so filtering NULL-t1 users out of the
    # click join below is equivalence-preserving and cheaper.
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
            F.max(F.col("event_type") == "view").alias("has_view"),
        )
    )
    s1 = users.where(F.col("t1").isNotNull() & F.col("user_id").isNotNull()).select(
        "user_id", "t1"
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = (
        users.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            F.when(F.col("user_id").isNull(), F.lit(0))
            .when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .when(F.col("has_view"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("stage")
        )
    )
    return stages.groupBy("stage").agg(F.count("*").alias("n_users"))


# ---------------------------------------------------------------------------
# rolling anomaly detection (trailing-window z-score)
# ---------------------------------------------------------------------------

# decimal-quantized rolling moments: frame sums are EXACT (decimal), so
# mean/variance/threshold doubles derive deterministically on both
# engines regardless of each engine's frame-aggregation fold order —
# the float-window analogue of the dsum() decimal trick
ANOMALY_SQL = """
WITH w AS (
  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(value AS DOUBLE) AS v,
         count(*) OVER fr AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) OVER fr AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
              OVER fr AS DOUBLE) AS ss
  FROM events
  WINDOW fr AS (PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP)
                RANGE BETWEEN INTERVAL 48 HOUR PRECEDING AND CURRENT ROW)
),
z AS (
  SELECT event_type, n, v, s / n AS mu,
         sqrt(CASE WHEN ss / n - (s / n) * (s / n) > 0.0
                   THEN ss / n - (s / n) * (s / n) ELSE 0.0 END) AS sigma
  FROM w
)
SELECT event_type,
       count(*) AS n_events,
       count(CASE WHEN n >= 30 AND abs(v - mu) > 3.0 * sigma THEN 1 END)
         AS n_anomalies
FROM z
GROUP BY event_type
"""


def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly counts per event type: each
    event is scored against the mean/stddev of its type's previous 48
    hours (RANGE-INTERVAL frame — a two-pointer pass over each sorted
    partition, never a self-join), flagged when |v - mu| > 3 sigma with
    a >=30-sample warm-up. The monitoring pass a streaming pipeline
    runs batch-side for backfill.

    Cross-engine exactness: frame SUMS are decimal (exact regardless
    of either engine's sliding-window fold order); mean/variance/
    threshold are then deterministic double arithmetic on exact
    inputs. Identical SQL both engines."""
    return sql_on_tables(spark, sf_dir, ANOMALY_SQL)
