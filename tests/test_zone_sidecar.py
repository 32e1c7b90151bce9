"""Round-5 lock for the persisted zone-map sidecar (VERDICT r4 item 6):
pruned_scan/expire planning can run off a watermarked parquet sidecar
instead of re-scanning the table, and a stale sidecar is bypassed.

A parquet table's footers are its zone metadata, so the sidecar only
persists where they cannot serve: the sidecar pins run on ORC tables."""

from pyspark.sql import functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
from hbasewd_spark.sources.salted_table import SaltedTable


def test_persisted_zone_map_serves_pruned_scan(spark, kv, tmp_path):
    """With a fresh sidecar, pruned_scan plans WITHOUT scanning the
    table column (no zone-map job over the data) and returns exactly
    the live-computed results."""
    t = SaltedTable.write(
        kv,
        str(tmp_path / "zm"),
        HashDistributor(8),
        "key_long",
        fmt="orc",
        zone_map_cols=["key_long", "val"],
    )
    fs = Fs(spark, t.path)
    assert fs.is_dir(f"{t.path}/_zone_maps/key_long")
    assert fs.is_dir(f"{t.path}/_zone_maps/val")

    def boom(col):
        raise AssertionError("planning scanned the column despite a fresh sidecar")

    t.zone_map = boom
    lo, hi = KEY_PREFIX + 200, KEY_PREFIX + 700
    got = t.pruned_scan("key_long", lo, hi).count()
    assert got == expected_in_range(200, 699)

    # the memoized zone rows must have come from the sidecar: poison
    # the live path by checking the cached rows match the sidecar read
    side = {
        (r.file, r.lo, r.hi, r.n_rows)
        for r in spark.read.parquet(f"{t.path}/_zone_maps/key_long").collect()
    }
    cached = {
        (r["file"], r["lo"], r["hi"], r["n_rows"])
        for r in t._zone_table("key_long").to_pylist()
    }
    assert cached == side and side


def test_stale_zone_sidecar_is_bypassed_after_append(spark, kv, tmp_path):
    """An append after the build must invalidate the sidecar via the
    listing watermark: pruned_scan sees the NEW rows (a trusted stale
    map would silently drop them)."""
    t = SaltedTable.write(
        kv, str(tmp_path / "zmstale"), HashDistributor(4), "key_long",
        fmt="orc", zone_map_cols=["key_long"],
    )
    assert t._zone_sidecar_df("key_long") is not None
    extra = kv.withColumn("key_long", F.col("key_long") + 100_000)
    t._writer(
        extra.withColumn("salt", t.distributor.salt_expr("key_long"))
        .repartition(4, F.col("salt"))
        .sortWithinPartitions("salt", "key_long")
    ).mode("append").save(t.path)
    t.refresh()
    n = t.pruned_scan("key_long", KEY_PREFIX + 100_000, None).count()
    assert n == kv.count()  # every appended row found despite old sidecar


def test_expire_uses_and_survives_zone_sidecar(spark, kv, tmp_path):
    """expire() planning runs off the sidecar when fresh; since round 6
    the verb REBUILDS the sidecar after rewriting files (a bypassed
    stale sidecar is safe but silently demotes every later scan to
    O(data) planning), so the second expiry plans off a fresh sidecar
    again — watermark asserted, not just counts."""
    import json as _json

    t = SaltedTable.write(
        kv, str(tmp_path / "zmexp"), HashDistributor(8), "key_long",
        fmt="orc", zone_map_cols=["key_long"],
    )
    stats = t.expire(KEY_PREFIX + 500)
    want = expected_in_range(500, 10**9)
    assert t.df().count() == want
    assert stats["rows_dropped"] == 500 - want
    fs = Fs(spark, t.path)
    meta = _json.loads(
        fs.read_text(f"{t.path}/_zone_maps/key_long/_zone_meta.json")
    )
    assert meta["data_sig"] == t._data_signature(fs)  # rebuilt fresh
    stats2 = t.expire(KEY_PREFIX + 700)
    assert t.df().count() == expected_in_range(700, 10**9)
    assert stats2["rows_dropped"] == want - expected_in_range(700, 10**9)


def test_compact_and_upsert_keep_sidecars_fresh(spark, kv, tmp_path):
    """compact() carries the sidecar dir through the swap and rebuilds
    it against the new files; upsert_rows() rebuilds in place. Both
    asserted via the watermark matching the post-verb data signature."""
    import json as _json

    from hbasewd_spark.sources.salted_table import compact

    t = SaltedTable.write(
        kv, str(tmp_path / "zmlc"), HashDistributor(4), "key_long",
        fmt="orc", zone_map_cols=["key_long", "val"],
    )
    fs = Fs(spark, t.path)

    def sig_matches(col):
        meta = _json.loads(
            fs.read_text(f"{t.path}/_zone_maps/{col}/_zone_meta.json")
        )
        return meta["data_sig"] == t._data_signature(fs)

    compact(t)
    assert sig_matches("key_long") and sig_matches("val")
    t.upsert_rows(
        spark.createDataFrame(
            [(b"\x00", KEY_PREFIX + 5, 999, 1)],
            "key binary, key_long long, val int, write_seq long",
        )
    )
    assert sig_matches("key_long") and sig_matches("val")
    # and the fresh sidecar actually serves a correct pruned scan
    n = t.pruned_scan("key_long", KEY_PREFIX + 100, KEY_PREFIX + 200).count()
    assert n == expected_in_range(100, 199)


def test_build_zone_map_refreshes_after_change(spark, kv, tmp_path):
    """Rebuilding after a mutation re-watermarks: the sidecar serves
    again."""
    t = SaltedTable.write(
        kv, str(tmp_path / "zmre"), HashDistributor(4), "key_long",
        fmt="orc", zone_map_cols=["key_long"],
    )
    t.expire(KEY_PREFIX + 300)
    t.build_zone_map("key_long")
    fs = Fs(spark, t.path)
    import json as _json

    meta = _json.loads(
        fs.read_text(f"{t.path}/_zone_maps/key_long/_zone_meta.json")
    )
    assert meta["data_sig"] == t._data_signature(fs)
    n = t.pruned_scan("key_long", KEY_PREFIX + 300, KEY_PREFIX + 400).count()
    assert n == expected_in_range(300, 399)


def test_fast_count_matches_scan_count(spark, kv, tmp_path):
    """fast_count == scan().count() for bounded / unbounded / empty /
    single-point ranges, including with NULL keys in the table (nulls
    never match a range predicate; wholly-inside files contribute
    n_rows - n_nulls from pure metadata)."""
    t = SaltedTable.write(
        kv, str(tmp_path / "fc"), HashDistributor(8), "key_long",
        zone_map_cols=["key_long"],
    )
    cases = [
        (None, None),
        (KEY_PREFIX + 100, KEY_PREFIX + 900),
        (KEY_PREFIX + 499, KEY_PREFIX + 500),
        (KEY_PREFIX + 10**9, KEY_PREFIX + 2 * 10**9),  # empty
        (None, KEY_PREFIX + 250),
        (KEY_PREFIX + 750, None),
    ]
    for lo, hi in cases:
        assert t.fast_count(lo, hi) == t.scan(lo, hi, ordered=False).count(), (lo, hi)

    df = spark.createDataFrame(
        [(i if i % 5 else None, f"v{i}") for i in range(200)], "k long, v string"
    )
    tn = SaltedTable.write(df, str(tmp_path / "fcn"), HashDistributor(4), "k")
    for lo, hi in [(None, None), (50, 150), (0, 1)]:
        assert tn.fast_count(lo, hi) == tn.scan(lo, hi, ordered=False).count(), (lo, hi)


def test_manifest_relation_from_sidecar(spark, kv, tmp_path):
    """VERDICT r11 #4: the per-table manifest — (salt, file, lo, hi,
    n_rows, n_nulls) readable AS a DataFrame — serves from the fresh
    sidecar with the live zone scan trapped; salt is parsed from the
    Hive path segment and matches every file's directory."""
    import re

    t = SaltedTable.write(
        kv, str(tmp_path / "mf"), HashDistributor(8), "key_long",
        fmt="orc", zone_map_cols=["key_long"],
    )

    def boom(col):
        raise AssertionError("manifest fell back to a live zone scan")

    t.zone_map = boom
    rows = t.manifest().collect()
    side = {
        r.file: (r.lo, r.hi, r.n_rows)
        for r in spark.read.parquet(f"{t.path}/_zone_maps/key_long").collect()
    }
    assert len(rows) == len(side) > 0
    for r in rows:
        assert (r.lo, r.hi, r.n_rows) == side[r.file]
        m = re.search(r"salt=(\d+)/", r.file)
        assert m and r.salt == int(m.group(1))
    assert {r.salt for r in rows} == set(range(8))  # every bucket present


def test_manifest_live_fallback_without_sidecar(spark, kv, tmp_path, monkeypatch):
    """No sidecar: the manifest comes from the same source the planners
    read — parquet footers, with the column scan trapped — and its
    per-salt row totals reconcile with the table."""
    t = SaltedTable.write(kv, str(tmp_path / "mfl"), HashDistributor(4), "key_long")

    def boom(self, col):
        raise AssertionError("manifest fell back to a live zone scan")

    monkeypatch.setattr(SaltedTable, "zone_map", boom)
    m = t.manifest("key_long")
    assert m.columns == ["salt", "file", "lo", "hi", "n_rows", "n_nulls"]
    per_salt = {r.salt: r.t for r in m.groupBy("salt").agg(
        F.sum("n_rows").alias("t")).collect()}
    want = {r.salt: r.t for r in t.df().groupBy("salt").agg(
        F.count("*").alias("t")).collect()}
    assert per_salt == want


def test_fast_count_150k_synthetic_files(spark):
    """fast_count at 150k files: with synthetic footers describing 150k
    files, a range covering only wholly-inside files is answered
    from zone metadata alone (exact n_rows - n_nulls, no data I/O —
    the files do not exist), and the unbounded count is pure
    metadata."""
    from pyspark.sql import functions as SF

    t = SaltedTable(
        spark, "/tmp/__no_such_table__", HashDistributor(8), "k", "parquet",
        spark.range(1).select(SF.col("id").alias("k")).schema.json(),
    )
    n_files = 150_000
    # disjoint slices [i*100, i*100+50], 200 rows each, 10 nulls each
    zone = spark.range(n_files).select(
        SF.concat(SF.lit("f"), SF.col("id")).alias("file"),
        (SF.col("id") * 100).alias("lo"),
        (SF.col("id") * 100 + 50).alias("hi"),
        SF.lit(200).alias("n_rows"),
        SF.lit(10).alias("n_nulls"),
    )
    t._footer_stats_local = lambda col, paths=None: zone.toArrow()
    # files 10..19 wholly inside [1000, 2000): 10 files x 190 keyed rows
    assert t.fast_count(1000, 2000) == 10 * 190
    # unbounded: metadata-only, nulls count (scan applies no predicate)
    assert t.fast_count() == n_files * 200


def test_unusable_stats_column_plans_from_fresh_sidecar(spark, tmp_path):
    """A parquet column whose footer stats pyarrow cannot decode
    (decimal(18,4)) persists a watermarked sidecar, and a cold handle
    plans from it with the column scan trapped: zone rows and
    pruned_scan equal the scan's."""
    import decimal
    import json as _json

    df = spark.range(2000).select(
        F.col("id").alias("k"), F.col("id").cast("decimal(18,4)").alias("dec")
    )
    t = SaltedTable.write(
        df, str(tmp_path / "dec"), HashDistributor(4), "k", zone_map_cols=["dec"]
    )
    fs = Fs(spark, t.path)
    meta = _json.loads(fs.read_text(f"{t.path}/_zone_maps/dec/_zone_meta.json"))
    assert meta["data_sig"] == t._data_signature(fs)
    cold = SaltedTable.load(spark, t.path)
    want = sorted(tuple(r) for r in cold.zone_map("dec").collect())

    def boom(col):
        raise AssertionError("planning scanned the column despite a fresh sidecar")

    cold.zone_map = boom
    got = sorted(
        tuple(r.values()) for r in cold._zone_table("dec").to_pylist()
    )
    assert got == want and len(got) == 4
    lo, hi = decimal.Decimal(300), decimal.Decimal(1100)
    assert cold.pruned_scan("dec", lo, hi).count() == 800


def test_rebucket_carries_and_rebuilds_zone_sidecars(spark, kv, tmp_path):
    """rebucket() keeps a table's sidecar set, as compact() does: a
    dropped sidecar turns every later zone read of its column into a
    silent column scan."""
    from hbasewd_spark.sources.salted_table import rebucket

    t = SaltedTable.write(
        kv, str(tmp_path / "zmrb"), HashDistributor(4), "key_long",
        fmt="orc", zone_map_cols=["val"],
    )
    t = rebucket(t, HashDistributor(8))
    fs = Fs(spark, t.path)
    assert fs.is_dir(f"{t.path}/_zone_maps/val")
    assert t._zone_sidecar_df("val") is not None  # watermark-fresh

    def boom(col):
        raise AssertionError("planning scanned the column despite a fresh sidecar")

    t.zone_map = boom
    want = kv.where(F.col("val").between(100, 300)).count()
    assert t.pruned_scan("val", 100, 300).count() == want
