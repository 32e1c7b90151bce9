"""Training-run data-layout operators (LLM-pipeline extension layer).

Three planning steps that sit between a curated corpus and a training
run, each a pure-Catalyst plan with a DuckDB oracle twin:

- :func:`token_budget_sample` — hard token-budget selection: per
  language, walk documents in seeded-hash order and keep them until a
  token budget is exhausted (the greedy "fill the mixture bucket" step
  behind Pile/DoReMi-style runs once the *rates* from
  curation.domain_mixture / temperature_mixture are turned into an
  actual document set). The cumulative sum is a TWO-PHASE prefix sum
  over hash-range buckets — per-(lang, bucket) totals roll up to a
  bounded offsets relation that broadcasts back — so no language ever
  funnels through a single window partition (English at 100 TB would).
- :func:`shard_plan` — deterministic shard assignment audit: every
  document hashes to one of :data:`N_SHARDS` training shards; the plan
  reports per-shard document/token mass and an order-free membership
  checksum, so a re-run (or a second engine) can prove byte-identical
  shard layout before any bytes are written. Same overflow-closed
  checksum discipline as ext_dataset_manifest (DECIMAL(38,0) partial
  sums, value taken mod 2^32).
- :func:`unigram_familiarity` — corpus-frequency familiarity score
  (the cheap stand-in for a CCNet-style LM-perplexity quality filter):
  per document, the integer mean of its tokens' corpus-wide
  frequencies. Rare-token documents (gibberish, OCR noise, exotic
  boilerplate) score low; stopword-heavy prose scores high. The
  vocabulary relation is never PINNED broadcast — Catalyst statistics
  pick the strategy, so at 100 TB (a token vocabulary is far beyond
  broadcast reach) the plan degrades to an equi-join on the token key
  (the stopword-skew on that join is exactly what AQE skew-join
  splitting is for, and the join payload is two slim integer columns).
  Scoring
  is integer division (Spark ``div`` / DuckDB ``//``) so results are
  bit-identical across engines and executor counts at any scale.

Reference parity note: the reference (sematext/HBaseWD) has no
training layer — this module is part of the engine's LLM-pipeline
extension surface (SURVEY.md §6), built on the same deterministic-hash
machinery as its salted scans (functions/codec.py:md5_long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hbasewd_spark.functions.codec import md5_long, sql_md5_long
from hbasewd_spark.functions.text import sql_tokens, tokens
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

# tokens kept per language by token_budget_sample — selective at every
# shipped SF (smallest language at sf0.001 carries ~4k tokens)
TOKEN_BUDGET = 2_000

# hash-range buckets for the two-phase prefix sum; offsets relation is
# bounded by n_languages * N_BUCKETS rows
N_BUCKETS = 64
_BUCKET_WIDTH = (1 << 32) // N_BUCKETS  # md5_long is uniform on [0, 2^32)

N_SHARDS = 64
_MOD32 = 1 << 32


def _order_hash(prefix: str, key: str = "doc_id"):
    return md5_long(F.concat(F.lit(prefix), F.col(key).cast("string")))


def _sql_order_hash(prefix: str, dialect: str, key: str = "doc_id") -> str:
    return sql_md5_long(f"'{prefix}' || CAST({key} AS VARCHAR)", dialect)


# ---------------------------------------------------------------------------
# token-budget selection
# ---------------------------------------------------------------------------


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, before_tokens) — the documents selected
    by walking each language in seeded-hash order until
    :data:`TOKEN_BUDGET` tokens are taken (a document is kept iff the
    budget was not yet exhausted when its turn came, so the set
    overshoots by at most one document per language).

    The within-language running sum is computed WITHOUT a global
    window: the order hash is range-bucketed (bucket = h div W, monotone
    in h), per-(lang, bucket) token totals aggregate map-side into a
    ≤ n_langs × N_BUCKETS offsets relation, a window over THAT tiny
    relation yields each bucket's starting offset, and the broadcast
    join back means every bucket's documents rank independently —
    per-window work is corpus_size / N_BUCKETS regardless of language
    skew. The oracle expresses the same selection as one flat SQL
    window (bucket order is a prefix of (h, doc_id) order, so the two
    forms are identical by construction)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    h = _order_hash("tb-")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        h.alias("h"),
    ).withColumn("bucket", F.expr(f"h div {_BUCKET_WIDTH}"))
    per_bucket = scored.groupBy("lang", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    off_win = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(off_win), F.lit(0))
        .cast("bigint")
        .alias("bucket_before"),
    )
    in_win = (
        Window.partitionBy("lang", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = scored.join(F.broadcast(offsets), ["lang", "bucket"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            F.col("bucket_before")
            + F.coalesce(F.sum("n_tokens").over(in_win), F.lit(0))
        )
        .cast("bigint")
        .alias("before_tokens"),
    )
    return ranked.where(F.col("before_tokens") < TOKEN_BUDGET)


def token_budget_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    h = _sql_order_hash("tb-", "duckdb")
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, len({toks}) AS n_tokens, {h} AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS before_tokens
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, before_tokens
    FROM ranked WHERE before_tokens < {TOKEN_BUDGET}
    """


# ---------------------------------------------------------------------------
# shard layout audit
# ---------------------------------------------------------------------------


def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, n_docs, n_tokens, member_checksum) — the audit relation
    for a deterministic :data:`N_SHARDS`-way training-shard split.

    shard = hash(doc_id) mod N_SHARDS is a pure map-side function, so
    the whole plan is one scan + one map-side-combinable aggregation on
    a 64-value key — no window, no join, and re-running it on any
    cluster (or engine) reproduces the identical relation, which is the
    point: diff two of these before shipping shards to a trainer.
    Checksums sum 32-bit hashes in DECIMAL(38,0) (exact to ~10^28 rows,
    no ANSI overflow raise) and fold mod 2^32, matching the DuckDB
    twin's HUGEINT sum at any row count."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    member_hash = _order_hash("shard-")
    return (
        docs.select(
            (member_hash % N_SHARDS).alias("shard"),
            F.size(tokens("text")).alias("n_tokens"),
            md5_long(F.col("doc_id").cast("string")).alias("doc_hash"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.pmod(
                F.sum(F.col("doc_hash").cast("decimal(38,0)")), F.lit(_MOD32)
            )
            .cast("bigint")
            .alias("member_checksum"),
        )
    )


def shard_plan_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    member_hash = _sql_order_hash("shard-", "duckdb")
    doc_hash = sql_md5_long("CAST(doc_id AS VARCHAR)", "duckdb")
    return f"""
    SELECT ({member_hash}) % {N_SHARDS} AS shard,
           count(*) AS n_docs,
           CAST(sum(len({toks})) AS BIGINT) AS n_tokens,
           CAST(sum({doc_hash}) % {_MOD32} AS BIGINT) AS member_checksum
    FROM documents
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# unigram familiarity scoring
# ---------------------------------------------------------------------------


def unigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, sum_freq, mean_freq) — per-document corpus-
    familiarity: sum and integer mean of each token's corpus-wide
    occurrence count.

    Two shuffles on the slim (doc_id, tok) stream: the vocabulary
    count (map-side combinable — shuffle volume is the vocabulary, not
    the corpus) and the per-document rollup. The counts relation joins
    back by token EQUI-JOIN with the strategy left to Catalyst
    statistics — never pinned broadcast, so at 100 TB (where a
    vocabulary is far past any broadcast threshold) the same plan
    degrades to a shuffle join, whose stopword skew is the textbook
    AQE skew-join case (the payload per hot key is one slim integer
    row on the build side). mean_freq is exact integer division,
    bit-identical on every engine."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    tk = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # r12 optimization: tk fed both the vocabulary count and the join's
    # probe side. Pre-reducing to per-(doc, tok) occurrence counts
    # (map-side combinable) makes the freq join move one row per
    # distinct (doc, tok) instead of one per token occurrence —
    # strictly fewer shuffle bytes. Values are identical: n_tok =
    # sum(nn), sum_freq = sum(nn * freq) with the multiply in decimal
    # so the overflow envelope matches the old per-occurrence decimal
    # sum.
    tkc = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("nn"))
    counts = tkc.groupBy("tok").agg(F.sum("nn").alias("freq"))
    return (
        tkc.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("nn").alias("n_tok"),
            F.sum(F.col("nn").cast("decimal(38,0)") * F.col("freq"))
            .cast("bigint")
            .alias("sum_freq"),
        )
        .select(
            "doc_id",
            "n_tok",
            "sum_freq",
            F.expr("sum_freq div n_tok").alias("mean_freq"),
        )
    )


def unigram_familiarity_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok),
    per_doc AS (
      SELECT tk.doc_id, count(*) AS n_tok,
             CAST(sum(freq) AS BIGINT) AS sum_freq
      FROM tk JOIN counts USING (tok)
      GROUP BY tk.doc_id
    )
    SELECT doc_id, n_tok, sum_freq, sum_freq // n_tok AS mean_freq
    FROM per_doc
    """
