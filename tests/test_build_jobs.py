"""Building a query runs only the Spark jobs it cannot avoid: under
Spark 4.1 reading a parquet table without a schema infers one, and that
is a job."""

from pyspark.sql import functions as F

from hbasewd_spark import queries as Q
from hbasewd_spark.operators.minhash_index import build_minhash_index, dedup_against_index
from hbasewd_spark.sources.loaders import load_table


def test_sql_text_query_loads_only_the_tables_it_names(spark, sf_dir, spark_jobs):
    # o1 reads events alone, so it infers one table's schema
    df, jobs = spark_jobs("o1-build", lambda: Q.REGISTRY["o1_roundrobin_salt_balance"].fn(spark, sf_dir))
    assert len(jobs) <= 1, jobs
    assert df.count() > 0


def test_index_probe_builds_without_a_job(spark, sf_dir, tmp_path, spark_jobs):
    # the probe materializes nothing at build and reads the index with
    # the schema its metadata records
    idx = str(tmp_path / "mhidx")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_minhash_index(spark, docs.where(F.pmod("doc_id", F.lit(10)) != 0), idx)
    batch = docs.where(F.pmod("doc_id", F.lit(10)) == 0)
    probe, jobs = spark_jobs("probe-build", lambda: dedup_against_index(spark, batch, idx))
    assert jobs == []
    assert probe.count() > 0
