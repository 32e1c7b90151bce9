"""Loaders for the driver-generated test tables (TESTDATA.md).

``events.ts`` is parquet TIMESTAMP(NANOS), which Spark cannot read
natively; the session sets ``spark.sql.legacy.parquet.nanosAsLong`` and
this loader converts to a microsecond TimestampType by truncation —
bit-identical to DuckDB's TIMESTAMP_NS -> TIMESTAMP cast, so oracle
comparisons line up.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_nanos_conf(spark: SparkSession) -> None:
    """The events table is parquet TIMESTAMP(NANOS); Spark refuses it
    unless nanosAsLong is set. It's a runtime-settable SQL conf, so set
    it defensively — the caller's session (e.g. the driver's) may not
    have it at build time. Session timezone is pinned UTC for the same
    reason: timestamp values must render UTC-naive to line up with
    DuckDB oracles regardless of the host session's defaults."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # already set via session builder, or not supported


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Single source of truth for testdata timestamp normalization —
    used by both the batch loader and the streaming reader, so the
    next encoding flip is fixed in exactly one place: ``ts`` stored as
    bigint (the original TIMESTAMP(NANOS) layout read under
    nanosAsLong) is truncated to micros, matching DuckDB's ns->us cast.
    No column is ever timestamp_ntz here: :func:`footer_schema` maps
    every parquet timestamp (the round-3 regeneration wrote
    timestamp[us] no-tz, which unix_micros/withWatermark reject) to
    TIMESTAMP, value-identical to the DuckDB oracle under the pinned
    UTC session."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def footer_schema(path: str) -> StructType:
    """The schema Spark infers for a local parquet table (a file, or a
    tools/make_sf.py directory of part files), read from one footer on
    the driver, since Spark's own inference is a job. INT64
    TIMESTAMP(NANOS) is bigint (nanosAsLong), INT96 a timestamp."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "_."]
        path = os.path.join(path, min(parts))
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        return StructType([
            StructField(f.name, LongType() if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                        else from_arrow_type(f.type))
            for f in pf.schema_arrow
        ])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_nanos_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return normalize_timestamps(spark.read.schema(footer_schema(path)).parquet(path))


def sql_on_tables(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``spark.sql(text)`` over the test tables: each table the text
    names as a whole word is registered as a temp view first, so an
    extra view is harmless and a missing one fails analysis loudly."""
    for name in TABLES:
        if re.search(rf"\b{name}\b", text, re.IGNORECASE):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(text)


# an exchange node (shuffle or broadcast) or the adaptive wrapper AQE
# puts around a plan with one, at the start of an executed-plan line
_EXCHANGE_LINE = re.compile(r"^[\s:+\-*()0-9]*(AdaptiveSparkPlan|\w*Exchange)\b", re.M)


def ensure_min_parallelism(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer
    partitions than cores (at most 32) — decouples compute parallelism
    from input file layout for CPU-heavy per-row stages
    (tokenize/md5/regex).

    The driver testdata is one row group per table, so every scan is
    one task and a 32-core session runs regex pipelines single-threaded
    without this. At 100 TB the condition is false (scans produce
    thousands of splits) and the repartition — which there would be a
    catastrophic full-text shuffle — is skipped entirely.

    The partitions are counted on the JVM side, on the RDD the executed
    plan builds (wrapping it in a Python RDD first, ``df.rdd``, costs
    about 70 more py4j commands per call), and only for a plan with no
    exchange, whose RDD is built without running a job. A plan with an
    exchange is returned unchanged: building its RDD runs the stages
    below the exchange (AQE plans its shuffle reads from them), and
    its parallelism is set by the exchange, not by the file layout."""
    plan = df._jdf.queryExecution().executedPlan()
    if _EXCHANGE_LINE.search(plan.toString()):
        return df
    target = min(spark.sparkContext.defaultParallelism, 32)
    n = plan.execute().getNumPartitions()
    return df.repartition(target) if n < target else df
