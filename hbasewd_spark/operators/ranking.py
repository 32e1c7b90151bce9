"""BM25 full-text ranking over the documents corpus.

The retrieval step of a data pipeline: score every document against a
term query with Okapi BM25 and return the top-k. Pure Catalyst
(tokenize → explode → two tiny aggregations → one join), no UDFs.

Scale shape (100 TB): the exploded token stream is filtered to the
query terms BEFORE any shuffle, so the per-term tf aggregation moves
only |docs_with_term| rows; document lengths are a second map-side-
combinable aggregate over the same scan; the df/N/avgdl statistics are
single-row or |terms|-row relations broadcast to the scorer. Nothing
quadratic, no full-corpus shuffle.

Cross-engine exactness: every arithmetic step except ``ln`` is
identical IEEE double math evaluated in the same order on Spark and
DuckDB (per-term scores are folded in a FIXED order via per-term
conditional aggregates, never a nondeterministic SUM over doubles);
``ln`` may differ in the last ulp between libm implementations, so the
score is defined rounded to 6 decimals with doc_id tiebreak — part of
the operator contract, mirrored in the oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.functions.text import sql_tokens, tokens
from hbasewd_spark.operators.topk import global_topk
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

BM25_TERMS = ("hash", "join", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) for every document containing a query term.

    r12 optimization — ONE tokenize pass instead of four: the old
    shape derived doclen, stats, tf and dfreq as four separate
    aggregations over the exploded token stream, and because the
    stream is referenced from four subtrees Spark tokenized and
    exploded the full corpus four times (four parquet scans in the
    plan) and shuffled doc-keyed token counts through three joins.
    Now a single groupBy(doc_id) over one exploded stream carries the
    document length AND one conditional count per query term
    (map-side-combinable, so only |docs| slim rows cross the
    exchange); the corpus statistics (n_docs, avgdl, per-term df)
    are ONE further aggregate of that per-doc relation, broadcast
    back as a 1-row cross join. Per-term scores become row-local
    arithmetic — the tf/dfreq/doclen joins disappear entirely.

    Exactness is preserved expression-by-expression: tf_t equals the
    old per-(doc,term) count, df_t the old per-term doc count, avgdl
    the identical sum/count double, and s_t the same
    idf * (tf * (k1+1)) / denom IEEE tree folded in the same
    declaration order (a doc-term with tf_t = 0 contributes the same
    0.0 the old coalesce(sum(..), 0.0) produced)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    tk = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    per_doc = tk.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    k1, b = BM25_K1, BM25_B
    matched = per_doc.where(
        reduce(lambda a, t: a | (F.col(f"tf_{t}") > 0), BM25_TERMS[1:],
               F.col(f"tf_{BM25_TERMS[0]}") > 0)
    )
    scored = matched.crossJoin(F.broadcast(stats))
    total = None
    for t in BM25_TERMS:
        tf = F.col(f"tf_{t}")
        df_t = F.col(f"df_{t}")
        idf = F.log((F.col("n_docs") - df_t + 0.5) / (df_t + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
        s_t = F.when(tf > 0, idf * (tf * (k1 + 1.0)) / denom).otherwise(F.lit(0.0))
        total = s_t if total is None else total + s_t
    return scored.select("doc_id", F.round(total, 6).alias("score"))


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rk, doc_id, score) — top-20 documents for the fixed term query.

    Top-k via TakeOrderedAndProject (partial per-partition heaps), not
    a global single-partition window — see operators/topk.py.
    """
    agg = bm25_scores(spark, sf_dir)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    return global_topk(agg, order, BM25_TOPK).select("rk", "doc_id", "score")


def _bm25_ctes() -> str:
    """The WITH-clause body computing ``bm25(doc_id, score)`` — shared
    by the rank oracle and the hybrid-retrieval oracle."""
    toks = sql_tokens("text", "duckdb")
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1, b = BM25_K1, BM25_B
    per_term = ", ".join(
        f"coalesce(sum(CASE WHEN tok = '{t}' THEN s END), 0.0) AS s_{t}"
        for t in BM25_TERMS
    )
    total = " + ".join(f"s_{t}" for t in BM25_TERMS)
    return f"""
    tk AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    doclen AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM doclen
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tk
      WHERE tok IN ({terms}) GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
               * (tf * ({k1} + 1.0))
               / (tf + {k1} * (1.0 - {b} + {b} * (dl / avgdl))) AS s
      FROM tf JOIN dfreq USING (tok) JOIN doclen USING (doc_id), stats
    ),
    bm25 AS (
      SELECT doc_id, round({total}, 6) AS score
      FROM (SELECT doc_id, {per_term} FROM scored GROUP BY doc_id) agg
    )"""


def bm25_oracle() -> str:
    return f"""
    WITH {_bm25_ctes()},
    ranked AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
      FROM bm25
    )
    SELECT rk, doc_id, score FROM ranked WHERE rk <= {BM25_TOPK}
    """


HYBRID_CANDIDATES = 50
HYBRID_TOPK = 10
HYBRID_ANCHOR = 0  # vec_id of the query document's embedding


def hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 term match proposes candidates, embedding
    cosine against an anchor document reranks them —
    ``0.5 * bm25/max_bm25 + 0.5 * cosine``, the standard two-tower
    lexical+semantic blend.

    Scale shape: the candidate set (top-``HYBRID_CANDIDATES``) is tiny
    regardless of corpus size, so the rerank join touches
    |candidates| embedding rows — fetched by an equi-join that prunes
    on the candidate ids; the anchor vector and the 1-row max-score
    relation broadcast. Exactness: both scores fold left-to-right
    (similarity._dot contract), blend arithmetic is identical IEEE
    order, output rounded to 6 (the ln/sqrt ulp contract)."""
    from hbasewd_spark.operators.similarity import _dvec, cosine

    scores = bm25_scores(spark, sf_dir)
    cand = global_topk(
        scores,
        [F.col("score").desc(), F.col("doc_id").asc()],
        HYBRID_CANDIDATES,
        rk_name=None,
    ).select("doc_id", "score")
    mx = cand.agg(F.max("score").alias("max_score"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    anchor = emb.where(F.col("vec_id") == HYBRID_ANCHOR).select(
        F.col("v").alias("anchor_v")
    )
    cos = cosine(F.col("v"), F.col("anchor_v"))
    blended = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(anchor))
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            "score",
            F.round(cos, 6).alias("cos_sim"),
            F.round(
                0.5 * (F.col("score") / F.col("max_score")) + 0.5 * cos, 6
            ).alias("blend"),
        )
    )
    return global_topk(
        blended, [F.col("blend").desc(), F.col("doc_id").asc()], HYBRID_TOPK
    ).select("rk", "doc_id", "score", "cos_sim", "blend")


def hybrid_oracle() -> str:
    from hbasewd_spark.operators.similarity import sql_cosine

    cos = sql_cosine("e.embedding", "a.embedding")
    return f"""
    WITH {_bm25_ctes()},
    cand AS (
      SELECT doc_id, score FROM (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS brk
        FROM bm25
      ) t WHERE brk <= {HYBRID_CANDIDATES}
    ),
    mx AS (SELECT max(score) AS max_score FROM cand),
    blended AS (
      SELECT c.doc_id, c.score,
             round({cos}, 6) AS cos_sim,
             round(0.5 * (c.score / max_score) + 0.5 * {cos}, 6) AS blend
      FROM cand c
      JOIN embeddings e ON c.doc_id = e.vec_id
      JOIN embeddings a ON a.vec_id = {HYBRID_ANCHOR}, mx
    )
    SELECT rk, doc_id, score, cos_sim, blend FROM (
      SELECT *, row_number() OVER (ORDER BY blend DESC, doc_id ASC) AS rk
      FROM blended
    ) t WHERE rk <= {HYBRID_TOPK}
    """
