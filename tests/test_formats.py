"""Multi-format salted tables: the salt-partitioned layout, metadata
round-trip, ordered range scans, and point gets must behave identically
across parquet / orc (scale formats) and csv / json (interchange
formats, schema-on-read from persisted metadata)."""

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

