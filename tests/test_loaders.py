"""Loader normalization contract (round-3 postmortem).

The driver regenerates the testdata between rounds and has already
changed `events.ts` parquet encoding twice (TIMESTAMP(NANOS) ->
timestamp[us] no-tz). The engine's contract: whatever the physical
encoding, `load_table` surfaces plain TIMESTAMP (never TIMESTAMP_NTZ,
which unix_micros/withWatermark reject) with UTC-identical values —
for every timestamp column of every table, not just events.ts.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hbasewd_spark.sources.loaders import load_table


def _write_ntz_events(path: str) -> list[dt.datetime]:
    ts = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 1, 1, 12, 30, 0),
        dt.datetime(2024, 2, 28, 23, 59, 59),
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),  # no timezone -> NTZ
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return ts


def test_load_table_normalizes_ntz_timestamps(spark, tmp_path):
    want = _write_ntz_events(str(tmp_path))
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # values must be the UTC-naive instants as written (session is UTC)
    got = [r.us for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    exp = sorted(int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for t in want)
    assert got == exp
    # the streaming reader must agree with the batch loader
    from hbasewd_spark.streaming.ingest import stream_events

    stream = stream_events(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    assert stream.isStreaming


def test_load_table_normalizes_ntz_on_any_column(spark, tmp_path):
    """The backstop is per-column across the whole schema — if the
    generator flips o_orderdate next round, the loader absorbs it."""
    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array(
                [dt.datetime(1997, 5, 1), dt.datetime(1998, 1, 2)],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    assert df.where(F.year("o_orderdate") == 1997).count() == 1


def _assert_footer_schema_is_inferred(spark, sf_dir):
    from hbasewd_spark.sources.loaders import TABLES, footer_schema, normalize_timestamps

    # inference as the loader ran it before it read footers: no-tz
    # timestamps as TIMESTAMP
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path)
        assert footer_schema(path) == inferred.schema, name
        assert load_table(spark, sf_dir, name).schema == normalize_timestamps(inferred).schema, name


def test_footer_schema_equals_the_inferred_one(spark, sf_dir):
    _assert_footer_schema_is_inferred(spark, sf_dir)


def test_footer_schema_of_part_file_directories(spark, sf_dir, tmp_path):
    # the tools/make_sf.py layout: each table a Spark-written directory
    # of part files (plus _SUCCESS and .crc side files)
    from hbasewd_spark.sources.loaders import TABLES

    for name in TABLES:
        load_table(spark, sf_dir, name).repartition(2).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    _assert_footer_schema_is_inferred(spark, str(tmp_path))


def test_footer_schema_keeps_nanos_as_bigint(spark, tmp_path):
    # the original events layout: INT64 TIMESTAMP(NANOS) reads as
    # bigint (nanosAsLong) and normalizes by truncation to micros
    from hbasewd_spark.sources.loaders import footer_schema

    ns = [1_700_000_000_123_456_789, 5_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    path = str(tmp_path / "events.parquet")
    assert dict((f.name, f.dataType.simpleString()) for f in footer_schema(path))["ts"] == "bigint"
    assert footer_schema(path) == spark.read.parquet(path).schema
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.us for r in df.select(F.unix_micros("ts").alias("us")).orderBy("event_id").collect()]
    assert got == [v // 1000 for v in ns]


def test_min_parallelism_runs_no_job_over_an_exchange(spark, sf_dir, spark_jobs):
    # a plan with an exchange would run its stages below the exchange
    # to count its partitions (the AQE plan is executed); it is
    # returned as it is, and a bare scan is still widened
    from hbasewd_spark.sources.loaders import ensure_min_parallelism

    events = load_table(spark, sf_dir, "events")
    for name, df in [
        ("aggregate", events.groupBy("event_type").count()),
        ("repartition", events.repartition(4)),
    ]:
        out, jobs = spark_jobs(f"min-parallelism-{name}", lambda: ensure_min_parallelism(df, spark))
        assert jobs == [], name
        assert out is df, name
    assert events.rdd.getNumPartitions() < min(spark.sparkContext.defaultParallelism, 32)
    wide, jobs = spark_jobs("min-parallelism-scan", lambda: ensure_min_parallelism(events, spark))
    assert jobs == []
    assert wide is not events
