"""Wave-5 tests: bucketed co-located joins, streaming session windows,
param-string round-trip, DebugUtil dump parity, k-means descent."""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.sources import bucketed as BK
from hbasewd_spark.sources.loaders import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the same key join with ZERO exchanges —
    the pre-paid-shuffle strategy for repeated fact⋈fact joins."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    BK.write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "b_orders", "okey")
    BK.write_bucketed(li.withColumnRenamed("l_orderkey", "okey"), "b_lineitem", "okey")
    joined = BK.cocluster_join(spark, "b_orders", "b_lineitem", "okey", force_smj=True)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan
    expect = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert joined.count() == expect


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """session_window(ts, 30 min) in a real streaming run produces the
    same per-user session count as the batch lag+cumsum sessionization."""
    from hbasewd_spark.operators.relational import sessionize
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: r.n_sessions
        for r in spark.sql(
            "SELECT user_id, count(*) AS n_sessions FROM t_sessions GROUP BY user_id"
        ).collect()
    }
    exp = {
        r.user_id: r.n_sessions
        for r in sessionize(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .collect()
    }
    assert got == exp


def test_param_string_roundtrip():
    from hbasewd_spark.plans.distributor import (
        Hash31Distributor,
        MultiBytePrefixDistributor,
        RoundRobinDistributor,
        from_param_string,
        to_param_string,
    )

    for d in (
        RoundRobinDistributor(12, order_col="write_seq"),
        Hash31Distributor(15, abs_bug=True),
        MultiBytePrefixDistributor(),
    ):
        s = to_param_string(d)
        d2 = from_param_string(s)
        assert type(d2) is type(d)
        assert d2.buckets == d.buckets
        assert d2.params() == d.params()


def test_debug_dump_sniffing(spark):
    """Width-based value sniffing: 8 bytes -> long, 4 -> int, else
    string (DebugUtil.java:68-80)."""
    import struct

    from hbasewd_spark.functions.debug import dump

    rows = [
        (struct.pack(">q", 1), struct.pack(">q", 123456789012)),
        (struct.pack(">q", 2), struct.pack(">i", -42)),
        (struct.pack(">q", 3), b"hello"),
    ]
    df = spark.createDataFrame(rows, "key binary, value binary")
    got = {r.key_hex: r.value_str for r in dump(df, "key", "value").collect()}
    assert got["0000000000000001"] == "123456789012"
    assert got["0000000000000002"] == "-42"
    assert got["0000000000000003"] == "hello"


def test_kmeans_inertia_descends(spark, sf_dir):
    """More Lloyd iterations -> lower (or equal) total inertia."""
    import hbasewd_spark.operators.similarity as SIM

    inertias = []
    orig = SIM.KMEANS_ITERS
    try:
        for iters in (0, 1, 3):
            SIM.KMEANS_ITERS = iters
            total = (
                SIM.kmeans_clusters(spark, sf_dir)
                .agg(F.sum("inertia").alias("s"))
                .collect()[0]
                .s
            )
            inertias.append(total)
    finally:
        SIM.KMEANS_ITERS = orig
    assert inertias[0] >= inertias[1] >= inertias[2]
    assert inertias[2] < inertias[0]


def test_compaction_preserves_table(spark, sf_dir, tmp_path):
    """Streaming appends -> many small files; compact() rewrites to one
    key-sorted file per salt and preserves contents + metadata."""
    import glob

    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable, compact
    from hbasewd_spark.streaming import ingest as ST

    dest, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    d = HashDistributor(4)
    # two appends = 2 files per salt
    ev = load_table(spark, sf_dir, "events")
    for i in range(2):
        from hbasewd_spark.sources.salted_table import SALT_COL, salted
        (salted(ev, d, "ts").repartition(4, "salt").sortWithinPartitions("salt", "ts")
         .write.mode("append").partitionBy("salt").parquet(dest))
    import json, os
    with open(os.path.join(dest, "_wd_distributor.json"), "w") as f:
        json.dump({"key_col": "ts", **d.to_meta()}, f)
    t = SaltedTable.load(spark, dest)
    before = t.df().count()
    files_before = len(glob.glob(f"{dest}/salt=*/*.parquet"))
    assert files_before >= 8
    compact(t)
    files_after = len(glob.glob(f"{dest}/salt=*/*.parquet"))
    assert files_after <= 4, files_after
    t2 = SaltedTable.load(spark, dest)  # metadata survived the swap
    assert t2.distributor.buckets == 4
    assert t2.df().count() == before
    # layout invariant: each file still key-sorted (scan stays ordered)
    keys = [r.ts for r in t2.scan().select("ts").collect()]
    assert keys == sorted(keys)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """Streaming dropDuplicates: re-delivered events collapse to one
    row per event_id (exactly-once semantics over an at-least-once
    source)."""
    from hbasewd_spark.streaming import ingest as ST

    stream = ST.stream_events(spark, sf_dir)
    # simulate duplicate delivery by unioning the stream with itself
    dup = stream.union(stream)
    deduped = dup.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT count(*) AS n FROM t_stream_dedup").collect()[0].n
    assert n == load_table(spark, sf_dir, "events").count()


def test_scd2_versions(spark):
    """SCD2: changed keys get their current row closed and a new
    current version appended; history rows untouched."""
    import datetime

    from hbasewd_spark.operators.cdc import scd2_apply

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [
            (1, "alice@a.com", t0, None, True),
            (2, "bob@b.com", t0, None, True),
            (3, "old@c.com", t0, t1, False),
            (3, "carol@c.com", t1, None, True),
        ],
        "id int, email string, effective_ts timestamp, end_ts timestamp, is_current boolean",
    )
    t2 = datetime.datetime(2025, 1, 1)
    changes = spark.createDataFrame(
        [(1, "alice@new.com", t2)], "id int, email string, effective_ts timestamp"
    )
    out = scd2_apply(dim, changes, "id", ["email"]).collect()
    by = {}
    for r in out:
        by.setdefault(r.id, []).append(r)
    assert len(by[1]) == 2
    cur1 = [r for r in by[1] if r.is_current]
    assert len(cur1) == 1 and cur1[0].email == "alice@new.com"
    closed1 = [r for r in by[1] if not r.is_current][0]
    assert closed1.end_ts == t2 and closed1.email == "alice@a.com"
    assert len(by[2]) == 1 and by[2][0].is_current
    assert len(by[3]) == 2  # history preserved


def test_upsert_rows_partition_scoped(spark, sf_dir, tmp_path):
    """Update-without-read: only the changed keys' salt partitions are
    rewritten (untouched partition files keep their mtime/identity);
    updated values visible, unchanged rows intact; round-robin refuses."""
    import glob
    import os

    from hbasewd_spark.plans.distributor import HashDistributor, RoundRobinDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable

    kv = kv_df(spark)
    path = str(tmp_path / "t")
    t = SaltedTable.write(kv, path, HashDistributor(8), "key_long")
    files_before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/salt=*/*.parquet")}
    total_before = t.df().count()

    changes = kv.where(F.col("val").isin(500, 501)).withColumn("val", F.col("val") + 100000)
    t.upsert_rows(changes)

    # values updated, count unchanged (pure update, no inserts here)
    assert t.df().count() == total_before
    got = {r.val for r in t.point_get(KEY_PREFIX + 500).collect()}
    assert got == {100500}
    # some partitions untouched: their files still exist with same mtime
    untouched = [
        f for f, mt in files_before.items()
        if os.path.exists(f) and os.path.getmtime(f) == mt
    ]
    assert untouched, "expected at least one untouched salt partition"

    rr = SaltedTable.write(kv, str(tmp_path / "rr"), RoundRobinDistributor(8), "key_long")
    with pytest.raises(ValueError, match="deterministic"):
        rr.upsert_rows(changes)


def test_failed_upsert_leaves_partition_overwrite_mode_unchanged(
    spark, tmp_path, monkeypatch
):
    """upsert_rows makes only its own write dynamic: when that write
    fails, the session's partitionOverwriteMode is what it was, and a
    later overwrite still replaces every salt directory."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.range(400).select(F.col("id").alias("k"), F.col("id").alias("v"))
    path = str(tmp_path / "t")
    t = SaltedTable.write(df, path, HashDistributor(8), "k")

    def failing_writer(self, frame):
        raise IOError("injected writer failure")

    monkeypatch.setattr(SaltedTable, "_writer", failing_writer)
    with pytest.raises(IOError, match="injected"):
        t.upsert_rows(df.where("k < 3").withColumn("v", F.lit(-1)))
    monkeypatch.undo()
    assert spark.conf.get(key) == before
    one = SaltedTable.write(df.where("k = 7"), path, HashDistributor(8), "k")
    assert one.df().count() == 1


def test_expire_drops_old_files_without_rewriting_them(spark, kv, tmp_path):
    """Retention expiry: rows below the cutoff disappear (count vs the
    generator oracle), files wholly below the cutoff are deleted as a
    metadata operation (their paths vanish; surviving files keep their
    identity), and only boundary files are rewritten. Scans, ordered
    scans, and point gets all stay correct afterwards."""
    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(
        kv, str(tmp_path / "exp"), HashDistributor(8), "key_long"
    )
    fs = Fs(spark, t.path)
    before_files = set(fs.glob(f"{t.path}/salt=*/*.parquet"))
    cutoff = KEY_PREFIX + 500

    stats = t.expire(cutoff)

    want = expected_in_range(500, 10**9)
    assert t.df().count() == want
    assert stats["rows_dropped"] == 500 - want
    assert stats["files_dropped"] + stats["files_rewritten"] + stats["files_kept"] == len(before_files)
    # each salt bucket holds one key-sorted file covering the whole key
    # range, so the cutoff straddles EVERY file: all 8 must rewrite
    assert stats["files_rewritten"] == 8 and stats["files_dropped"] == 0
    # scan correctness survives expiry
    rows = t.scan(start=cutoff, stop=KEY_PREFIX + 700, ordered=True).collect()
    assert len(rows) == expected_in_range(500, 699)
    assert [r.key_long for r in rows] == sorted(r.key_long for r in rows)
    assert t.point_get(KEY_PREFIX + 499).count() == 0
    assert t.point_get(KEY_PREFIX + 500).count() >= 1


def test_expire_deletes_whole_files_metadata_only(spark, kv, tmp_path):
    """With per-epoch appended files (disjoint key ranges per file),
    old epochs expire via pure file deletes — zero rewrites."""
    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX
    from hbasewd_spark.sources.salted_table import SaltedTable
    from pyspark.sql import functions as F

    # epoch 1: keys [0, 250); epoch 2: keys [10000, 10250) — disjoint
    old = kv.where(F.col("val") < 250)
    new = kv.where(F.col("val") < 250).withColumn(
        "key_long", F.col("key_long") + 10_000
    )
    t = SaltedTable.write(old, str(tmp_path / "ep"), HashDistributor(4), "key_long")
    fs = Fs(spark, t.path)
    epoch1_files = set(fs.glob(f"{t.path}/salt=*/*.parquet"))
    t._writer(
        new.select(*[c for c in old.columns]).withColumn(
            "salt", t.distributor.salt_expr("key_long")
        ).repartition(4, F.col("salt")).sortWithinPartitions("salt", "key_long")
    ).mode("append").save(t.path)
    t.refresh()
    n_new = new.count()

    stats = t.expire(KEY_PREFIX + 5_000)  # everything in epoch 1 is older

    assert stats["files_rewritten"] == 0
    assert stats["files_dropped"] == len(epoch1_files)
    assert t.df().count() == n_new
    # the old files are physically gone, the new ones untouched
    remaining = set(fs.glob(f"{t.path}/salt=*/*.parquet"))
    assert remaining.isdisjoint(epoch1_files)


def test_expire_is_idempotent_and_matches_oracle_at_any_cutoff(spark, kv, tmp_path):
    """For several cutoffs: post-expiry count equals the generator
    oracle, re-running the same expiry is a no-op (idempotent), and a
    later cutoff composes (expire(a) then expire(b>a) == expire(b))."""
    from hbasewd_spark.plans.distributor import Hash31Distributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(
        kv, str(tmp_path / "exp_prop"), Hash31Distributor(5), "key_long"
    )
    for i, cut in enumerate((200, 200, 500, 998)):  # repeat 200 -> no-op
        stats = t.expire(KEY_PREFIX + cut)
        want = expected_in_range(cut, 10**9)
        assert t.df().count() == want, (cut, stats)
        if i == 1:
            assert stats["rows_dropped"] == 0
            assert stats["files_dropped"] == 0
    assert t.df().count() == expected_in_range(998, 10**9)


def test_describe_reports_per_salt_layout(spark, kv, tmp_path):
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(kv, str(tmp_path / "desc"), HashDistributor(8), "key_long")
    rows = t.describe().collect()
    assert sum(r.n_rows for r in rows) == 500
    assert all(r.n_files >= 1 and r.n_bytes > 0 for r in rows)
    assert all(r.key_lo <= r.key_hi for r in rows)
    assert len(rows) == len({r.salt for r in rows})


def test_validate_flags_missalted_rows(spark, kv, tmp_path):
    """A healthy table validates empty; physically moving rows to a
    wrong salt partition (simulated corruption) is detected with the
    exact offending (stored, expected) salt pair."""
    from pyspark.sql import functions as F

    from hbasewd_spark.plans.distributor import HashDistributor, RoundRobinDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(kv, str(tmp_path / "val"), HashDistributor(8), "key_long")
    assert t.validate().count() == 0

    # corrupt: rewrite a handful of rows into salt partition 0 with a
    # salt value that disagrees with hash(key)
    bad = (
        t.df().where(F.col("salt") == 3).limit(5)
        .withColumn("salt", F.lit(0))
    )
    bad.drop("salt").write.mode("append").parquet(t.path + "/salt=0")
    t.refresh()
    offending = t.validate().collect()
    assert sum(r.n for r in offending) == 5
    assert all(r.salt == 0 and r.expected_salt == 3 for r in offending)

    rr = SaltedTable.write(
        kv, str(tmp_path / "valrr"), RoundRobinDistributor(4), "key_long"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rr.validate()


def test_rebucket_migrates_strategy_and_preserves_data(spark, kv, tmp_path):
    """8-bucket hash -> 16-bucket hash -> 5-bucket hash31: every
    migration preserves the full row multiset, point gets and ordered
    scans stay correct, validate() confirms the new salt invariant,
    and the physical layout really has the new bucket count."""
    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.plans.distributor import Hash31Distributor, HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
    from hbasewd_spark.sources.salted_table import SaltedTable, rebucket

    t = SaltedTable.write(kv, str(tmp_path / "rb"), HashDistributor(8), "key_long")
    want = sorted((r.key_long, r.val) for r in t.df().collect())

    for dist in (HashDistributor(16), Hash31Distributor(5)):
        t = rebucket(t, dist)
        assert t.distributor.buckets == dist.buckets
        assert sorted((r.key_long, r.val) for r in t.df().collect()) == want
        assert t.validate().count() == 0
        fs = Fs(spark, t.path)
        salts = {p.rsplit("salt=", 1)[1] for p in fs.glob(f"{t.path}/salt=*")}
        assert len(salts) <= dist.buckets
        n = t.scan(start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900).count()
        assert n == expected_in_range(100, 899)
        assert t.point_get(KEY_PREFIX + 500).count() >= 1

    # a reload from disk sees the migrated distributor (O11 round-trip)
    t2 = SaltedTable.load(spark, t.path)
    assert t2.distributor.buckets == 5 and t2.distributor.name == "hash31"


def test_ensure_min_parallelism_noops_on_wide_input(spark, sf_dir):
    """The repartition exists ONLY because driver testdata is one row
    group (single-task scans); the 100 TB claim is that a wide scan
    skips it entirely. Lock that: an input already at >= min(target,32)
    partitions must come back IDENTICAL (same plan, no exchange)."""
    from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

    docs = load_table(spark, sf_dir, "documents").repartition(32)
    out = ensure_min_parallelism(docs, spark)
    assert out is docs  # literally untouched, not just equal

    narrow = load_table(spark, sf_dir, "documents")  # 1 file -> few partitions
    widened = ensure_min_parallelism(narrow, spark)
    assert widened.rdd.getNumPartitions() >= min(spark.sparkContext.defaultParallelism, 32)


def test_floor_quantization_is_cross_engine_exact():
    """The exactness contract behind centroid/inertia quantization:
    floor(x*1e9 + 0.5) computed by DuckDB equals Python's (both IEEE
    double ops) for adversarial float32-origin values, including exact
    decimal-tie dyadics where double->decimal casts disagree."""
    import math
    import struct

    import duckdb

    # adversarial set: dyadics on decimal tie boundaries, tiny/huge
    # magnitudes, negative zero, float32 round-trips of randoms
    vals = [0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 3.0 / 8192, -5.0 / 1024,
            0.2490234375, 1e-12, -1e-12, 0.999999999, -0.999999999]
    import random

    rng = random.Random(42)
    for _ in range(500):
        f32 = struct.unpack("f", struct.pack("f", rng.uniform(-1, 1)))[0]
        vals.append(f32)
    con = duckdb.connect()
    for v in vals:
        duck = con.execute(
            "SELECT CAST(floor(CAST(? AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)",
            [v],
        ).fetchone()[0]
        py = math.floor(v * 1_000_000_000.0 + 0.5)
        assert duck == py, (v, duck, py)


def test_curation_composes_with_salted_substrate(spark, sf_dir, tmp_path):
    """SURVEY M5's claim: the extension layer runs over the salted-table
    substrate, not just raw parquet. Text quality scoring over a
    documents table round-tripped through SaltedTable.write/scan must
    equal the direct-path result exactly."""
    from pyspark.sql import functions as F

    from hbasewd_spark.functions import text as TX
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.loaders import load_table
    from hbasewd_spark.sources.salted_table import SaltedTable

    docs = load_table(spark, sf_dir, "documents")
    t = SaltedTable.write(docs, str(tmp_path / "salted_docs"), HashDistributor(8), "doc_id")

    def quality_rollup(df):
        return (
            df.select("doc_id", "source", TX.quality_score("text").alias("q"))
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("q").cast("decimal(18,12)")).cast("double").alias("sum_q"),
            )
        )

    direct = {r.source: (r.n, r.sum_q) for r in quality_rollup(docs).collect()}
    via_salted = {r.source: (r.n, r.sum_q) for r in quality_rollup(t.scan()).collect()}
    assert direct == via_salted and len(direct) > 0


def test_expire_everything_leaves_a_readable_empty_table(spark, kv, tmp_path):
    """Expiring past every key must leave a USABLE empty table (scan /
    point_get / describe / another expire all work), not an
    UNABLE_TO_INFER_SCHEMA wreck — df() reads with the persisted
    schema, so zero data files read as an empty relation."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(kv, str(tmp_path / "all"), HashDistributor(4), "key_long")
    stats = t.expire(KEY_PREFIX + 10_000)
    assert stats == {
        "files_dropped": 4, "files_rewritten": 0, "files_kept": 0,
        "rows_dropped": 500,
    }
    assert t.df().count() == 0
    assert t.scan(start=KEY_PREFIX).count() == 0
    assert t.point_get(KEY_PREFIX + 500).count() == 0
    assert t.expire(KEY_PREFIX + 20_000)["rows_dropped"] == 0  # idempotent
    assert set(t.df().columns) >= set(kv.columns)
    # a fresh handle from disk metadata is equally usable
    t2 = SaltedTable.load(spark, t.path)
    assert t2.df().count() == 0


def test_lifecycle_edges_on_empty_and_inverted_inputs(spark, kv, tmp_path):
    """Operational edges stay sane: compact and rebucket of a fully
    expired (empty) table succeed and stay empty; an inverted scan
    range returns nothing rather than raising; an empty change set
    upserts as identity."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX
    from hbasewd_spark.sources.salted_table import SaltedTable, compact, rebucket

    t = SaltedTable.write(kv, str(tmp_path / "edge"), HashDistributor(4), "key_long")
    t.expire(KEY_PREFIX + 10_000)
    assert compact(t).df().count() == 0
    t = rebucket(t, HashDistributor(8))
    assert t.df().count() == 0 and t.distributor.buckets == 8

    t2 = SaltedTable.write(kv, str(tmp_path / "edge2"), HashDistributor(4), "key_long")
    assert t2.scan(start=KEY_PREFIX + 900, stop=KEY_PREFIX + 100).count() == 0
    assert t2.upsert_rows(kv.limit(0)).df().count() == 500
