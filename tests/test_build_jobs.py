"""A build only plans: building a registry query runs no Spark job,
except where the query's work must happen before its frame exists.
Test tables load with the schema their parquet footer records, so a
load infers nothing."""

from pyspark.sql import functions as F

from hbasewd_spark import queries as Q
from hbasewd_spark.operators.dedup import clear_dedup_caches
from hbasewd_spark.operators.minhash_index import build_minhash_index, dedup_against_index
from hbasewd_spark.sources.loaders import load_table

_SALTED = "writes the salted table it reads"
_STREAM = "starts a stream and drains it"
_KEPT = "a measured lazy checkpoint runs the exchanges below it (AQE)"

# the queries whose build runs Spark jobs, each with the reason
BUILD_RUNS_JOBS = {
    "o9_ordered_range_scan": _SALTED + "; global_rank collects its partition offsets",
    "o9b_merged_ordered_scan": _SALTED + "; global_rank collects its partition offsets",
    "p5_filter_projection_passthrough": _SALTED,
    "p6b_metadata_count_range": _SALTED,
    "p9_zonemap_pruned_scan": _SALTED,
    "stream_dedup_ingest": _STREAM,
    "stream_session_window": _STREAM,
    "stream_sliding_window": _STREAM,
    "stream_static_enrich": _STREAM,
    "stream_stream_join": _STREAM,
    "stream_windowed_agg": _STREAM,
    "ext_dedup_clusters": "connected components counts and collects the pair edges",
    "ext_dedup_winnow_clusters": "connected components counts and collects the pair edges",
    "ext_graph_pagerank": "pagerank collects the edge list to pick its path",
    "ext_dedup_incremental": "builds and appends the MinHash index it probes",
    "ext_dedup_winnow_incremental": "builds and appends the winnow index it probes",
    "ext_dedup_minhash_pairs": _KEPT + ": the signatures",
    "ext_pipeline_corpus_curation": _KEPT + ": the MinHash signatures",
    "ext_dedup_ngram_jaccard": _KEPT + ": the gram sets and the block relation",
    "ext_domain_mixture": _KEPT + ": the per-source aggregate",
    "ext_embed_lsh_neardup": _KEPT + ": the bucketed vectors",
    "ext_passage_dedup": _KEPT + ": the segments",
    "ext_passage_scrub": _KEPT + ": the slim segments",
    "ext_quality_calibration": _KEPT + ": the quality scores",
    "ext_text_keywords": _KEPT + ": the per-(doc, tok) counts",
    "rel_q11_important_parts": _KEPT + ": the per-part values",
    "rel_q15_top_supplier": _KEPT + ": the per-supplier revenue",
}


def _jobs_submitted(spark) -> int:
    # the scheduler's job counter: a stream's micro-batch jobs run
    # under the stream's own job group, so a group would miss them
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_registry_builds_run_no_spark_job(spark, sf_dir):
    assert set(BUILD_RUNS_JOBS) <= set(Q.REGISTRY)
    wrong = {}
    for name, spec in Q.REGISTRY.items():
        clear_dedup_caches()
        before = _jobs_submitted(spark)
        spec.fn(spark, sf_dir)
        jobs = _jobs_submitted(spark) - before
        # an excepted query that builds job-free fails too, so the
        # list cannot go stale
        if bool(jobs) != (name in BUILD_RUNS_JOBS):
            wrong[name] = jobs
    clear_dedup_caches()
    assert wrong == {}


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
