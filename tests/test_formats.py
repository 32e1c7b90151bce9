"""Multi-format salted tables: the salt-partitioned layout, metadata
round-trip, ordered range scans, and point gets must behave identically
across parquet / orc (scale formats) and csv / json (interchange
formats, schema-on-read from persisted metadata)."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
from hbasewd_spark.sources.salted_table import SaltedTable


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_format_roundtrip_matches_parquet(spark, tmp_path, fmt):
    df = kv_df(spark)
    if fmt == "csv":
        df = df.drop("key")  # CSV cannot carry BinaryType (documented)
    ref = SaltedTable.write(
        df, str(tmp_path / "ref"), HashDistributor(8), "key_long"
    )
    t = SaltedTable.write(
        df, str(tmp_path / fmt), HashDistributor(8), "key_long", fmt=fmt
    )
    # reload from disk through the persisted metadata (fmt + schema)
    t2 = SaltedTable.load(spark, str(tmp_path / fmt))
    assert t2.fmt == fmt
    assert t2.df().schema == ref.df().schema

    lo, hi = KEY_PREFIX + 100, KEY_PREFIX + 900
    want = [tuple(r) for r in ref.scan(lo, hi, ordered=True).collect()]
    got = [tuple(r) for r in t2.scan(lo, hi, ordered=True).collect()]
    assert got == want and len(got) == 400

    k = want[7][list(ref.scan(lo, hi).columns).index("key_long")]
    assert t2.point_get(k).count() == 1


def test_format_upsert_keeps_format(spark, tmp_path):
    df = kv_df(spark).drop("key")
    t = SaltedTable.write(
        df, str(tmp_path / "j"), HashDistributor(4), "key_long", fmt="json"
    )
    changes = df.limit(5).withColumn("val", F.col("val") + 1000)
    t.upsert_rows(changes)
    t2 = SaltedTable.load(spark, str(tmp_path / "j"))
    assert t2.df().count() == df.count()
    bumped = t2.df().where(F.col("val") >= 1000).count()
    assert bumped == 5


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_empty_table_keeps_salt_column(spark, tmp_path, fmt):
    """A table whose every row expired reads back with its ``salt``
    column in every format, so salt-pruned reads still resolve."""
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / fmt)
    SaltedTable.write(df, path, HashDistributor(4), "k", fmt=fmt).expire(1000)
    t = SaltedTable.load(spark, path)
    assert "salt" in t.df().columns
    assert t.point_get(5).count() == 0
    assert t.multi_get([5, 6]).count() == 0
    assert t.describe().count() == 0
    assert t.scan(0, 50).count() == 0


RG_BYTES = 256 << 10


def _rg_rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).cast("int").alias("x"),
        (F.col("id") % 991).cast("int").alias("y"),
        F.sha2(F.col("id").cast("string"), 256).alias("s"),
    )


def _row_groups_per_file(path, name="*"):
    """Row groups of every data file larger on disk than one row group
    (a range remnant of :func:`cluster` can be smaller, and rightly
    holds one)."""
    files = glob.glob(os.path.join(path, "salt=*", name + ".parquet"))
    return [
        pq.ParquetFile(f).metadata.num_row_groups
        for f in files
        if os.path.getsize(f) > RG_BYTES
    ]


@pytest.mark.parametrize(
    "verb", ["compact", "cluster", "rebucket", "expire", "upsert_rows", "epoch"]
)
def test_rewrites_keep_the_row_group_size(spark, tmp_path, verb):
    """``write(row_group_bytes=...)`` persists: every later write of the
    table's data files, a lifecycle rewrite or a stream epoch, keeps
    several parquet row groups per file instead of parquet's 128 MB
    default (one group per file at this size)."""
    from hbasewd_spark.sources.salted_table import cluster, compact, rebucket
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = SaltedTable.write(
        _rg_rows(spark, 0, 100_000), str(tmp_path / "t"), HashDistributor(2), "k",
        row_group_bytes=RG_BYTES,
    )
    assert min(_row_groups_per_file(t.path)) > 1
    if verb == "compact":
        compact(t)
    elif verb == "cluster":
        cluster(t, "x", "y")
    elif verb == "rebucket":
        rebucket(t, HashDistributor(3))
    elif verb == "expire":
        t.expire(1000)
    elif verb == "upsert_rows":
        t.upsert_rows(_rg_rows(spark, 0, 100_000).where(F.col("k") % 7 == 0))
    else:
        idempotent_salted_batch_write(
            _rg_rows(spark, 100_000, 200_000), 1, t.path, t.distributor, "k"
        )
    groups = _row_groups_per_file(t.path, "epoch-*" if verb == "epoch" else "*")
    assert groups and min(groups) > 1, groups
