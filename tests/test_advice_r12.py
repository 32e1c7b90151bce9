"""Round-12 regression locks for the ADVICE.md r11 findings not already
covered in test_pagerank.py (int-typed weight widening, NULL-k
filtering, the iters parametrize): the winnow incremental index's
on-disk lifecycle and the Gram matrix's widened cross-partition
accumulator."""

import os


def test_winnow_incremental_dirs_are_tracked_and_cleaned(spark, sf_dir):
    """ADVICE r11: winnow_incremental used to write under a fixed /tmp
    path and never clean up — attestation sweeps accumulated parquet
    dirs; incremental_dedup did the same with its MinHash index. Both
    now write under tracked scratch dirs, removed by
    clear_dedup_caches (and at interpreter exit)."""
    from hbasewd_spark.operators import dedup as DD
    from hbasewd_spark.operators import minhash_index as MI

    DD.clear_dedup_caches()
    assert DD.winnow_incremental(spark, sf_dir).count() >= 0
    assert MI.incremental_dedup(spark, sf_dir).count() >= 0
    roots = sorted(DD._SCRATCH_DIRS)
    assert [os.path.basename(os.path.dirname(r)) for r in roots] == ["hbasewd_mhidx", "hbasewd_wnidx"]
    assert all(os.path.isdir(r) for r in roots)
    DD.clear_dedup_caches()
    assert not DD._SCRATCH_DIRS
    assert not any(os.path.isdir(r) for r in roots), "index dirs survived cleanup"


def test_gram_cross_partition_sum_is_decimal_widened(spark, sf_dir):
    """ADVICE r11: the corpus-wide qq_part sum shares the per-row 1e12
    worst case, so an int64 accumulator can wrap silently past ~9e12
    rows while the DuckDB oracle sums in HUGEINT. The reduce must run
    in decimal(38,0) (overflow -> NULL, loud) and land back on bigint
    in the output schema."""
    from hbasewd_spark.operators.similarity import embed_gram_of
    from hbasewd_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(32)
    out = embed_gram_of(emb)
    assert dict(out.dtypes)["sum_qq"] == "bigint"
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,0)" in plan, plan
