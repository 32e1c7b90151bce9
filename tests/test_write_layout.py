"""The salt exchange under every salted write (``_bucket_sorted``):
one balanced reduce task per core, never an empty one, and the layout
it writes: one key-sorted file per salt per write."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.salted_table import (
    SALT_COL,
    SaltedTable,
    _bucket_sorted,
    compact,
    rebucket,
    salted,
)


def _salts_per_partition(df):
    """``{partition id: sorted salt ids}`` of a frame, plus its
    partition count (an empty partition has no entry)."""
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.collect_set(SALT_COL).alias("s"))
        .collect()
    )
    return {r._pid: sorted(r.s) for r in rows}, df.rdd.getNumPartitions()


@pytest.mark.parametrize("buckets", [2, 8, 32, 64])
def test_salt_s_lands_in_partition_s_mod_p(spark, buckets):
    df = spark.range(20_000).select(F.col("id").alias("k"))
    staged = _bucket_sorted(salted(df, HashDistributor(buckets), "k"), buckets, "k")
    got, n_parts = _salts_per_partition(staged)
    p = min(buckets, spark.sparkContext.defaultParallelism)
    assert n_parts == p
    assert got == {j: list(range(j, buckets, p)) for j in range(p)}


def test_a_salt_subset_fills_every_partition(spark):
    """A rewrite of some salts (expire, upsert_rows) passes the salt ids
    it holds: the i-th id goes to partition i mod p, so ids that share
    a residue still land in different tasks."""
    salts = [3, 11, 19, 27, 35]
    df = spark.range(5_000).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(s) for s in salts]), (F.col("id") % len(salts) + 1).cast("int")
        ).alias(SALT_COL),
    )
    got, n_parts = _salts_per_partition(_bucket_sorted(df, salts, "k"))
    p = min(len(salts), spark.sparkContext.defaultParallelism)
    assert n_parts == p
    assert got == {j: salts[j::p] for j in range(p)}


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).cast("int").alias("x"),
        (F.col("id") % 991).cast("int").alias("y"),
    )


def _files_by_salt(path, name="*"):
    """``{salt dir: [data files]}`` for the files named ``name``."""
    out: dict = {}
    for f in glob.glob(os.path.join(path, "salt=*", name + ".parquet")):
        out.setdefault(os.path.dirname(f), []).append(f)
    return out


@pytest.mark.parametrize("verb", ["write", "compact", "rebucket", "epoch"])
def test_each_write_puts_one_key_sorted_file_per_salt(spark, tmp_path, verb):
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = SaltedTable.write(_rows(spark, 0, 20_000), str(tmp_path / "t"), HashDistributor(32), "k")
    buckets = 32
    if verb == "compact":
        idempotent_salted_batch_write(_rows(spark, 20_000, 30_000), 1, t.path, t.distributor, "k")
        compact(t)
    elif verb == "rebucket":
        buckets = 12
        rebucket(t, HashDistributor(buckets))
    elif verb == "epoch":
        idempotent_salted_batch_write(_rows(spark, 20_000, 30_000), 1, t.path, t.distributor, "k")
    files = _files_by_salt(t.path, "epoch-*" if verb == "epoch" else "*")
    assert len(files) == buckets
    for salt_dir, fs in files.items():
        assert len(fs) == 1, (salt_dir, fs)
        keys = pq.read_table(fs[0], columns=["k"])["k"].to_pylist()
        assert keys == sorted(keys), salt_dir
