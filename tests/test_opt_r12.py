"""Round-12 optimization plan-shape locks (OPTIMIZATION_r12.md): each
test pins the structural property a rewrite bought — fewer corpus
passes, no accidental joins — so a refactor can't silently regress the
plan while staying value-correct."""

from pyspark.sql import functions as F


def _tree(df, spark) -> str:
    """The numbered operator tree of explain('formatted') (details
    blocks repeat node names, so counts must run on the tree only)."""
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return plan.split("\n\n")[0]


def _executed_tree(df) -> str:
    """The final adaptive plan once ``df`` has run: a subtree that
    reuses another's exchange shows as one ReusedExchange node, so
    counts here are the passes that actually execute."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def test_bm25_two_corpus_passes(spark, sf_dir):
    # r12: bm25 derives tf/doclen/df/avgdl from ONE groupBy(doc_id)
    # conditional aggregation; the only remaining corpus references are
    # the scored pass and the 1-row stats broadcast (2 scans, down from
    # 4), and every per-term join is gone — the single join left is the
    # stats cross-broadcast.
    from hbasewd_spark.operators.ranking import bm25_rank

    tree = _tree(bm25_rank(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 2, tree
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in tree, tree


def test_semdedup_single_assignment_pass(spark, sf_dir):
    # r12: the within-cell dedup is a row-local fold over each
    # collected cell, so the broadcast-argmin assignment subtree
    # appears ONCE (two scans total: corpus + centroid seed), and the
    # old pair self-join + members/removed join are gone.
    from hbasewd_spark.operators.similarity import semdedup_summary

    tree = _tree(semdedup_summary(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 2, tree
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in tree, tree
    assert tree.count("Window (") == 1, tree  # the argmin rk only


def test_text_keywords_single_tokenize_pass(spark, sf_dir):
    # r12 session 2: tf/df/n_docs/scores all derive from ONE pinned
    # per-(doc, tok) count relation — the residual plan re-reads the
    # checkpoint (zero parquet scans, zero Generates) instead of
    # re-tokenizing the corpus three times.
    from hbasewd_spark.queries import REGISTRY

    tree = _tree(REGISTRY["ext_text_keywords"].fn(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 0, tree
    assert tree.count("Generate") == 0, tree


def test_oov_rate_single_tokenize_pass(spark, sf_dir):
    # r12 session 2: vocabulary + per-doc probe + lang/source rollup
    # all read the per-(doc, tok) counts; no documents join-back, and
    # the second reader reuses the counts' exchange, so the corpus is
    # scanned and tokenized once.
    from hbasewd_spark.queries import REGISTRY

    tree = _executed_tree(REGISTRY["ext_text_oov_rate"].fn(spark, sf_dir))
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Generate") == 1, tree


def test_embed_neardup_rowlocal_sigs_no_smj(spark, sf_dir):
    # r12 session 2: band signatures fold row-locally over a 1-row
    # broadcast plane array, with no sort-merge join and no per-vector
    # signature exchange. The LSH feature relation is pinned, so its
    # residual plan is the pair join over the checkpoint (no parquet
    # scans); the band features' self-join sides reuse one exchange,
    # so the embeddings are read once for the corpus and once for the
    # plane sample.
    from hbasewd_spark.operators.similarity import (
        embedding_neardup_pairs,
        lsh_bucketed_neardup,
    )

    tree = _tree(lsh_bucketed_neardup(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 0, tree
    assert "SortMergeJoin" not in tree, tree
    df = embedding_neardup_pairs(spark, sf_dir)
    assert "SortMergeJoin" not in _tree(df, spark)
    assert _executed_tree(df).count("Scan parquet") == 2


def test_q11_single_fact_pass(spark, sf_dir):
    # r12 session 2: the grouped EUROPE-revenue relation is pinned, so
    # the threshold filter and the global total share one lineitem
    # aggregation (residual plan: zero parquet scans).
    from hbasewd_spark.operators.tpch2 import q11_important_parts

    tree = _tree(q11_important_parts(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 0, tree


def test_passage_scrub_single_segmentation(spark, sf_dir):
    # r12 session 2: the slim segment relation is pinned (mirroring
    # passage_dedup), so the tokenize+md5 segmentation generator runs
    # once — the residual plan's only Generate-free corpus reference is
    # the token-array rebuild scan.
    from hbasewd_spark.operators.curation import passage_scrub

    tree = _tree(passage_scrub(spark, sf_dir), spark)
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Generate") == 0, tree
