"""scan_merged — the exchange-free distributed ordered scan.

The contract under test: output rows equal scan(ordered=True) exactly
(same range semantics), arrive globally key-ordered across partitions,
and the physical plan has no Exchange and no Sort node (the shard
descriptors are a local relation, and the merge happens inside the
tasks over pre-sorted file runs).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.plans.distributor import Hash31Distributor, HashDistributor
from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
from hbasewd_spark.sources.salted_table import SaltedTable


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


@pytest.fixture(scope="module")
def kv_table(spark, kv, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("merged") / "kv")
    return SaltedTable.write(kv, path, HashDistributor(8), "key_long")


def test_merged_equals_ordered_scan_bounded(kv_table):
    ref = kv_table.scan(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900, ordered=True
    ).collect()
    got = kv_table.scan_merged(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900, shards=4
    ).collect()
    assert [r.key_long for r in got] == [r.key_long for r in ref]
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_merged_unbounded_and_column_pruned(kv_table):
    got = kv_table.scan_merged(columns=["key_long"]).collect()
    ref = kv_table.scan(ordered=True).select("key_long").collect()
    assert [r.key_long for r in got] == [r.key_long for r in ref]
    assert got[0].__fields__ == ["key_long"]


def test_merged_projection_excluding_the_key(kv_table):
    """columns= that drops the key still merges in key order: the key
    (and tiebreaks) are read internally for the sort and projected away
    before the output (round-6 fix: this crashed in the worker)."""
    got = kv_table.scan_merged(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 200, columns=["val"]
    ).collect()
    ref = (
        kv_table.scan(start=KEY_PREFIX + 100, stop=KEY_PREFIX + 200, ordered=True)
        .select("val")
        .collect()
    )
    assert [r.val for r in got] == [r.val for r in ref]
    assert got[0].__fields__ == ["val"]


def test_merged_empty_range_returns_empty_with_schema(kv_table):
    out = kv_table.scan_merged(start=KEY_PREFIX + 10**9, stop=KEY_PREFIX + 2 * 10**9)
    assert out.count() == 0
    assert "key_long" in out.columns


def test_merged_more_shards_than_files(kv_table):
    merged = kv_table.scan_merged(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 200, shards=64
    )
    got = merged.collect()
    keys = [r.key_long for r in got]
    want = kv_table.scan(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 200, ordered=True
    ).count()
    assert keys == sorted(keys) and len(keys) == want > 0
    # 64 shards over fewer cores: several shards share a partition, and
    # every partition's keys lie above the previous partition's
    parts = [
        [r.key_long for r in p] for p in merged.rdd.glom().collect() if p
    ]
    assert len(parts) > 1
    for prev, cur in zip(parts, parts[1:]):
        assert cur == sorted(cur) and min(cur) > max(prev)


def test_merged_plan_is_exchange_free_over_data(kv_table):
    plan = _plan(kv_table.scan_merged(start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900))
    # no exchange at all: the shard descriptors are a local relation,
    # table bytes never cross a shuffle and no Sort node exists (merge
    # happens inside mapInArrow)
    assert "Exchange" not in plan
    assert "Sort " not in plan
    assert "MapInArrow" in plan


def test_merged_rejects_interchange_formats(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "kv_csv"), HashDistributor(4), "key_long", fmt="csv"
    )
    with pytest.raises(ValueError, match="row-group"):
        t.scan_merged()


def test_merged_timestamp_key_with_ties_and_rank(spark, sf_dir, tmp_path):
    """Timestamp keys (tz-aware in parquet, naive in the session) and
    duplicate keys across shard seams: multiset parity with the
    ordered scan, global key order, and a presorted global_rank stamp
    identical to the sorted reference."""
    from hbasewd_spark.operators.topk import global_rank
    from hbasewd_spark.sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
        (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
    ).collect()[0]

    class _D(Hash31Distributor):
        def salt_expr(self, key):
            return self.salt_expr_long(key)

    t = SaltedTable.write(ev, str(tmp_path / "ev"), _D(16), "ts")
    cols = ["event_id", "ts", "event_type", "value"]
    ref = t.scan(start=b.lo, stop=b.hi, ordered=True, columns=cols).collect()
    merged = t.scan_merged(
        start=b.lo, stop=b.hi, shards=6, columns=cols, tiebreak=["event_id"]
    )
    got = merged.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    ts_seq = [r.ts for r in got]
    assert ts_seq == sorted(ts_seq)
    ranked = global_rank(merged, ["ts", "event_id"], presorted=True).collect()
    want = sorted(map(tuple, ref), key=lambda r: (r[1], r[0]))
    assert [
        (r.event_id, r.ts) for r in sorted(ranked, key=lambda r: r.rn)
    ] == [(r[0], r[1]) for r in want]


def test_merged_salted_layout_yields_multiple_nonempty_shards(kv_table):
    """The round-5 degeneration: every salted bucket file spans ~the
    full key domain, so whole-file boundary cuts all landed at the
    domain max and EVERY bounded scan collapsed to one merge shard —
    correct output, single-task OOM class at scale. The quantile
    interpolation must spread a bounded scan across the requested
    shards, each partition non-empty, globally ordered, disjoint."""
    df = kv_table.scan_merged(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900, shards=4
    ).withColumn("pid", F.spark_partition_id())
    per = {r.pid: r for r in df.groupBy("pid").agg(
        F.count("*").alias("n"),
        F.min("key_long").alias("lo"),
        F.max("key_long").alias("hi"),
    ).collect()}
    nonempty = sorted(per)
    assert len(nonempty) >= 3, f"shards degenerated: {per}"
    # row balance: no shard hoards the range (old behavior = 100% in one)
    total = sum(per[p].n for p in nonempty)
    assert max(per[p].n for p in nonempty) <= 0.6 * total
    # disjoint ascending ranges across partition ids
    for a, b in zip(nonempty, nonempty[1:]):
        assert per[a].hi < per[b].lo


def test_quantile_bounds_timestamp_and_string_keys(kv_table):
    """_quantile_bounds interpolates timestamp keys on the epoch-micros
    axis and declines (-> None, whole-file fallback) on string keys."""
    import datetime

    import pyarrow as pa

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    t1 = t0 + datetime.timedelta(hours=10)

    def zones(lo, hi, n, typ):
        return pa.table({
            "file": pa.array([f"f{i}" for i in range(n)]),
            "lo": pa.array([lo] * n, typ),
            "hi": pa.array([hi] * n, typ),
            "n_rows": pa.array([1000] * n, pa.int64()),
            "n_nulls": pa.array([0] * n, pa.int64()),
        })

    b = SaltedTable._quantile_bounds(
        zones(t0, t1, 4, pa.timestamp("us", tz="UTC")), None, None, 4
    ).to_pylist()
    assert len(b) == 3 and b == sorted(b)
    assert all(t0 < x < t1 for x in b)
    assert SaltedTable._quantile_bounds(
        zones("aa", "zz", 1, pa.string()), None, None, 4
    ) is None


def test_merged_spark_planning_parity(kv_table):
    """Shard planning over the zone metadata produces the same rows in
    the same global order as the exchange-sort scan, bounded and
    unbounded (auto shard sizing)."""
    ref = kv_table.scan(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900, ordered=True
    ).collect()
    got = kv_table.scan_merged(
        start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900, shards=4
    ).collect()
    assert [r.key_long for r in got] == [r.key_long for r in ref]
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    # and unbounded, with auto shard sizing
    got_all = kv_table.scan_merged(columns=["key_long"]).collect()
    ref_all = kv_table.scan(ordered=True).select("key_long").collect()
    assert [r.key_long for r in got_all] == [r.key_long for r in ref_all]


def _synthetic_table(spark, key_ddl, zone):
    """A table handle whose key zone metadata is the synthetic
    ``zone`` relation (planning never opens data files)."""
    t = SaltedTable(
        spark, "/tmp/__no_such_table__", HashDistributor(8), "k", "parquet",
        spark.range(1).selectExpr(f"CAST(NULL AS {key_ddl}) AS k").schema.json(),
    )
    t._footer_stats_local = lambda col, paths=None: zone.toArrow()
    return t


def test_spark_planning_holds_only_shards_on_the_driver(spark):
    """The shard planner at 150k files: plan a SYNTHETIC 150k-file
    long-key zone relation — the descriptor must come out with at
    most 16 ordered shards, bounded ranges nested in the request and
    every shard's file list non-empty."""
    from pyspark.sql import functions as SF

    n_files = 150_000
    zone = spark.range(n_files).select(
        SF.concat(SF.lit("f"), SF.col("id")).alias("file"),
        (SF.col("id") % 1000 * 100).alias("lo"),          # staggered ranges
        (SF.col("id") % 1000 * 100 + 5000).alias("hi"),
        SF.lit(200).alias("n_rows"),
        SF.lit(0).alias("n_nulls"),
    )
    t = _synthetic_table(spark, "bigint", zone)
    desc = t._plan_shards(1000, 90_000, 16, "bigint")
    rows = desc.collect()
    assert 2 <= len(rows) <= 16
    los = [r.lo for r in sorted(rows, key=lambda r: r.shard_id)]
    assert los == sorted(los, key=lambda x: (x is not None, x))
    # every shard's file list is non-empty and bounded ranges nest in
    # the request
    for r in rows:
        assert len(r.files) > 0
        if r.lo is not None and r.hi is not None:
            assert 1000 <= r.lo < r.hi <= 90_000


def test_spark_planning_string_keys_holds_only_shards_on_the_driver(spark):
    """String keys at 150k files: boundaries are cut at weighted
    file-boundary values over a SYNTHETIC 150k-file STRING-key zone
    relation, row-balanced within +-2 percent on disjoint files, on a
    bounded and a half-open request."""
    from pyspark.sql import functions as SF

    n_files = 150_000
    # disjoint lexicographic slices: file i covers [w<i:07d>, w<i+1:07d>)
    zone = spark.range(n_files).select(
        SF.concat(SF.lit("f"), SF.col("id")).alias("file"),
        SF.format_string("w%07d", SF.col("id")).alias("lo"),
        SF.format_string("w%07d", SF.col("id") + 1).alias("hi"),
        SF.lit(200).alias("n_rows"),
        SF.lit(0).alias("n_nulls"),
    )
    t = _synthetic_table(spark, "string", zone)
    desc = t._plan_shards("w0001000", "w0100000", 16, "string")
    rows = sorted(desc.collect(), key=lambda r: r.shard_id)
    assert 2 <= len(rows) <= 16
    los = [r.lo for r in rows]
    assert los == sorted(los, key=lambda x: (x is not None, x))
    for r in rows:
        assert len(r.files) > 0
        if r.lo is not None and r.hi is not None:
            assert "w0001000" <= r.lo < r.hi <= "w0100000"
    # row balance: disjoint equal-weight files cut at file boundaries
    # land every shard within ~1 file of fair share (+-2 percent)
    sizes = [len(r.files) for r in rows]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 1.02 * mean and min(sizes) >= 0.98 * mean

    # ADVICE r7: with stop=None the final in-range file reaches the
    # full cumulative weight — promoting the global max hi to a
    # boundary would leave a degenerate near-empty last shard; balance
    # must stay tight on the unbounded side too
    desc2 = t._plan_shards("w0001000", None, 16, "string")
    rows2 = sorted(desc2.collect(), key=lambda r: r.shard_id)
    sizes2 = [len(r.files) for r in rows2]
    mean2 = sum(sizes2) / len(sizes2)
    assert max(sizes2) <= 1.02 * mean2 and min(sizes2) >= 0.98 * mean2


def test_merged_string_key_spark_plan_parity(spark, tmp_path):
    """End-to-end on a real string-key table with a key sidecar:
    whole-file cuts return the same rows in the same global order as
    the exchange sort."""
    df = spark.range(500).select(
        F.format_string("user%04d", (F.col("id") * 7919) % 500).alias("uid"),
        F.col("id").alias("v"),
    )
    t = SaltedTable.write(
        df, str(tmp_path / "su"), HashDistributor(8), "uid",
        zone_map_cols=["uid"],
    )
    ref = t.scan(start="user0100", stop="user0400", ordered=True).collect()
    got = t.scan_merged(
        start="user0100", stop="user0400", shards=4
    ).collect()
    assert [r.uid for r in got] == [r.uid for r in ref]
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_merged_timestamp_seams_under_non_utc_session(spark, sf_dir, tmp_path):
    """ADVICE r5 lock: descriptor bounds are session-naive while the
    parquet field is tz-aware; with a non-UTC session each shard seam
    used to shift by the UTC offset, dropping/duplicating rows. Pin
    exact parity between merged and ordered scans on timestamp keys
    while the session runs in America/New_York (UTC-4/-5)."""
    from hbasewd_spark.sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
        (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
    ).collect()[0]

    class _D(Hash31Distributor):
        def salt_expr(self, key):
            return self.salt_expr_long(key)

    t = SaltedTable.write(ev, str(tmp_path / "tz"), _D(8), "ts")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        cols = ["event_id", "ts", "value"]
        ref = t.scan(start=b.lo, stop=b.hi, ordered=True, columns=cols).collect()
        got = t.scan_merged(
            start=b.lo, stop=b.hi, shards=5, columns=cols, tiebreak=["event_id"]
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
        assert [r.ts for r in got] == [r.ts for r in ref]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.fixture(scope="module")
def ts_table(spark, tmp_path_factory):
    df = spark.range(1200).select(
        (F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("id") * 90)).alias("ts"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path_factory.mktemp("tzb") / "t")
    return SaltedTable.write(
        df, path, HashDistributor(4), "ts", zone_map_cols=["ts"]
    )


@pytest.mark.parametrize("session_tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("aware", [False, True])
@pytest.mark.parametrize(
    "method", ["scan_merged", "fast_count", "pruned_scan", "scanner"]
)
def test_zone_consumers_accept_naive_and_aware_bounds(
    spark, ts_table, method, aware, session_tz
):
    """Every zone-metadata consumer takes the range bounds scan()
    takes: naive and tz-aware datetimes, under a UTC and a non-UTC
    session, with results equal to scan(start, stop)."""
    import datetime

    if aware:
        plus5 = datetime.timezone(datetime.timedelta(hours=5))
        lo = datetime.datetime(2024, 1, 1, 8, 7, tzinfo=plus5)
        hi = datetime.datetime(2024, 1, 2, 1, 0, 30, tzinfo=plus5)
    else:
        lo = datetime.datetime(2024, 1, 1, 3, 7)
        hi = datetime.datetime(2024, 1, 1, 20, 0, 30)
    t = ts_table
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        want = [tuple(r) for r in t.scan(lo, hi).collect()]
        assert want
        if method == "fast_count":
            assert t.fast_count(lo, hi) == len(want)
        elif method == "pruned_scan":
            got = t.pruned_scan("ts", lo, hi).collect()
            assert sorted(map(tuple, got)) == sorted(want)
        elif method == "scan_merged":
            assert [tuple(r) for r in t.scan_merged(lo, hi).collect()] == want
        else:
            got = [tuple(r) for r in t.scanner(lo, hi, max_buffer_rows=100)]
            assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_merged_null_keys_are_excluded_by_contract(spark, tmp_path):
    df = spark.createDataFrame(
        [(i if i % 7 else None, f"v{i}") for i in range(50)],
        "k long, v string",
    )
    t = SaltedTable.write(df, str(tmp_path / "nulls"), HashDistributor(4), "k")
    got = t.scan_merged().collect()
    keys = [r.k for r in got]
    assert None not in keys
    assert keys == sorted(keys)
    # the documented delta vs scan(): nulls sort first there
    assert len(got) == df.where(F.col("k").isNotNull()).count()
