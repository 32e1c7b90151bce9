"""Deduplication operators for training-data pipelines (north-star
extension): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a single hash aggregation on a fingerprint column
  (map-side combinable; no full-text shuffle — only the 8-byte hash and
  the kept doc_id move);
- MinHash/LSH follows shingle→minhash→band→bucket-join: candidate
  generation is an equi-join on (band, band_hash) — a shuffle whose
  keys are uniformly distributed by construction — followed by exact
  Jaccard verification on only the candidate pairs (never the n²
  cross product);
- SimHash uses bit-sliced aggregation: explode(tokens)→hash→per-bit
  majority vote, then 16-bit block LSH for candidate pairs within
  Hamming distance;
- all hashes are md5-derived (portable, seedable), so the DuckDB
  oracle reproduces every stage bit-for-bit.

Every operator returns deterministic results under any partitioning:
kept-row choices are min(doc_id), pair outputs are (a < b) ordered.
"""

from __future__ import annotations

import atexit
import hashlib
import math
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.functions.codec import sql_md5_long
from hbasewd_spark.functions.text import fingerprint, sql_fingerprint, sql_tokens, tokens
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

# MinHash parameters: 16 permutations in 4 bands of 4 rows.
MH_PERMS = 16
MH_BANDS = 4
MH_ROWS = MH_PERMS // MH_BANDS
MH_PRIME = 2_147_483_647
# deterministic permutation coefficients (any fixed odd/positive work)
MH_A = [2 * i + 1 for i in range(1, MH_PERMS + 1)]
MH_B = [7919 * i + 13 for i in range(MH_PERMS)]

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.35


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint: one row kept
    per fingerprint (min doc_id), with the duplicate count. At scale:
    groupBy on a bigint — map-side partial agg, tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_oracle() -> str:
    fp = sql_fingerprint("text", "duckdb")
    return f"""
    SELECT {fp} AS fp, min(doc_id) AS kept_doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """


# ---------------------------------------------------------------------------
# shingles + MinHash signatures
# ---------------------------------------------------------------------------


def _gram_positions(n, k: int):
    """1-based start positions of the k-grams of a length-``n``
    sequence — EMPTY when n < k. The naive ``sequence(1,
    greatest(n-k+1, 0))`` is NOT empty for short inputs: Spark
    generates the DESCENDING array [1, 0], and the downstream
    ``element_at(..., 0)`` raises INVALID_INDEX_OF_ZERO under ANSI
    (and the DuckDB oracles' ``generate_series(1, 0)`` IS empty, so
    even non-crashing consumers would diverge cross-engine). Every
    gram/shingle site must go through this guard."""
    return F.when(
        n >= k, F.sequence(F.lit(1), (n - (k - 1)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))


def minhash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs, mh0..mh15) — per-shingle 32-bit hashes + MinHash
    signature of the ``documents`` table (see :func:`features_of_docs`).

    Only the hash array (8 bytes/shingle) travels downstream — the
    shingle strings themselves (~20 bytes each) never leave the
    pipeline, which matters at 100 TB where the verify join would
    otherwise shuffle the full shingle text twice."""
    return features_of_docs(load_table(spark, sf_dir, "documents"))


def features_of_docs(docs: DataFrame) -> DataFrame:
    """The :func:`minhash_features` pipeline over any (doc_id, text)
    frame — the seam the incremental index and the streaming gate reuse
    for batches that are not a table on disk.

    The input is spread over every core first
    (:func:`~hbasewd_spark.sources.loaders.ensure_min_parallelism`):
    the signature pass is the CPU-heavy stage, and a one-file corpus
    would otherwise compute it in one task.

    Each stage is ONE ``selectExpr`` over the Spark SQL texts the
    DuckDB oracles share (tokens; shingles → md5 hashes; permutation
    mins), so building the frame costs a few dozen py4j calls instead
    of one per Column node (thousands). The stages are the projections
    the optimizer keeps apart (merging would duplicate non-cheap
    expressions), so every intermediate array materializes exactly
    once per row; the shingle array is read once and needs no stage of
    its own. In particular the token array must be a real column
    (``toks``), not an inline expression: lambda bodies inline their
    argument per element, so an inline tokenizer re-runs once per
    shingle per reference — a silent 1000× blowup (measured: 110s ->
    3s at sf0.1 after staging ``toks``)."""
    docs = ensure_min_parallelism(docs, docs.sparkSession)
    tk = docs.selectExpr("doc_id", f"{sql_tokens('text', 'spark')} AS toks")
    hs = tk.selectExpr(
        "doc_id", f"transform({sql_shingles_over_toks('spark')}, s -> {sql_md5_long('s', 'spark')}) AS hs"
    )
    return hs.selectExpr(
        "doc_id", "hs", *(f"{sql_minhash_min('spark', j)} AS mh{j}" for j in range(MH_PERMS))
    )


def sql_shingles_over_toks(dialect: str) -> str:
    """Word 3-shingles of a column named ``toks`` (the staged token
    array), as a deduped array. The Spark text guards short inputs as
    :func:`_gram_positions` does; the DuckDB oracles use their twin
    inside a CTE that computed the token array (no correlated
    subqueries)."""
    k = SHINGLE_K
    if dialect == "spark":
        parts = ", ".join(f"element_at(toks, CAST(i + {j} AS INT))" for j in range(k))
        return (
            f"array_distinct(transform("
            f"CASE WHEN size(toks) >= {k} THEN sequence(1, size(toks) - {k-1}) "
            f"ELSE CAST(array() AS ARRAY<INT>) END,"
            f" i -> concat_ws(' ', {parts})))"
        )
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len(toks) - {k-1}, 0)),"
        f" i -> {parts}))"
    )


def sql_minhash_min(dialect: str, j: int) -> str:
    """Permutation ``j``'s min over a column named ``hs`` (the
    per-shingle hash array); ``MH_PRIME`` for a doc without shingles."""
    perm = f"x -> ({MH_A[j]} * x + {MH_B[j]}) % {MH_PRIME}"
    if dialect == "duckdb":
        return f"coalesce(list_min(list_transform(hs, {perm})), {MH_PRIME})"
    return f"coalesce(array_min(transform(hs, {perm})), {MH_PRIME})"


def sql_minhash_band_hash(dialect: str, band: int) -> str:
    """Band hash over a column named ``hs`` (the per-shingle hash
    array): md5-long of the '_'-joined band signature values."""
    mins = [sql_minhash_min(dialect, j) for j in range(band * MH_ROWS, (band + 1) * MH_ROWS)]
    concat = " || '_' || ".join(f"CAST({m} AS VARCHAR)" for m in mins)
    return sql_md5_long(f"({concat})", dialect)


def _bands_of(sig: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, band, band_hash) from a signature frame — one
    pass, posexplode of the per-band hash array (no
    union-of-reprojections, which would recompute the signature once
    per band). ``keep`` are extra SQL projections carried onto every
    band row."""
    def band_key(b: int) -> str:
        mins = ", ".join(f"CAST(mh{j} AS STRING)" for j in range(b * MH_ROWS, (b + 1) * MH_ROWS))
        return f"concat_ws('_', {mins})"

    band_hashes = ", ".join(sql_md5_long(band_key(b), "spark") for b in range(MH_BANDS))
    return sig.selectExpr("doc_id", *keep, f"posexplode(array({band_hashes})) AS (band, band_hash)")


# The one module-global frame: the verified pairs of the last
# (session, sf_dir) asked for, lazily persisted. A curation pipeline
# asks for pairs, clusters and curation over one corpus in turn, and
# the two later queries build on the first one's pairs (traced
# corpus_dedup, seed 1, 4 cores: clusters p50 0.51 s against
# minhash_pairs 1.30 s). The
# key is the path, not the data: a corpus rewritten under the same
# path is served the earlier pairs until clear_dedup_caches(). A new
# key unpersists the old frame, so at most one is ever held.
_PAIRS_CACHE: dict = {}


def _drop_pairs() -> None:
    for df in _PAIRS_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _PAIRS_CACHE.clear()


def clear_dedup_caches() -> None:
    """Unpersist and drop the cached pairs frame, and remove the
    tracked index scratch dirs (safe to call with the owning sessions
    already stopped)."""
    _drop_pairs()
    _clear_scratch_dirs()


# the per-application dirs the index-building registry queries write
# under, removed by clear_dedup_caches() and at interpreter exit so
# that repeated runs leave no index trees behind
_SCRATCH_DIRS: set = set()


def _clear_scratch_dirs() -> None:
    for d in list(_SCRATCH_DIRS):
        shutil.rmtree(d, ignore_errors=True)
        _SCRATCH_DIRS.discard(d)


atexit.register(_clear_scratch_dirs)


def scratch_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """``<tmp>/<kind>/<applicationId>/<md5(sf_dir)[:12]>``, with its
    application dir tracked for removal."""
    root = os.path.join(tempfile.gettempdir(), kind, spark.sparkContext.applicationId)
    _SCRATCH_DIRS.add(root)
    return f"{root}/{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"


def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PAIRS_CACHE:
        _drop_pairs()
        _PAIRS_CACHE[key] = _minhash_dedup_pairs_uncached(spark, sf_dir).persist()
    return _PAIRS_CACHE[key]


def _expand_bucket_pairs(grouped: DataFrame) -> DataFrame:
    """(doc_a, doc_b): every a<b pair of each bucket row's sorted
    distinct ``ds`` id array, STREAMED (r13, VERDICT r12 #2).

    Two chained generators: ``posexplode(ds)`` picks each doc_a with
    its position, then the bare-id suffix ``slice(ds, ia+2, |ds|)``
    explodes into its doc_b partners. The pair *multiset* is identical
    to the r12 single-expression flatten/transform build (ds is sorted
    and per-bucket distinct), but no quadratic value ever exists: the
    generators pipeline in whole-stage codegen, each suffix slice is
    at most |ds| 8-byte ids (the same order as the collected bucket
    row itself), and pairs stream straight into the consumer — for
    the candidate `.distinct()`, a spillable exchange. A degenerate
    hot bucket therefore costs the pair COUNT (which it always did,
    join or not) but never |bucket|^2/2 structs of single-row memory.
    Locked by tests/test_opt_r13.py (exactness + 1M-doc hot bucket)."""
    return grouped.select(F.posexplode("ds").alias("ia", "doc_a"), "ds").select(
        "doc_a",
        F.explode(F.slice("ds", F.col("ia") + 2, F.size("ds"))).alias("doc_b"),
    )


def _minhash_dedup_pairs_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: LSH candidates (same band hash in any band),
    verified with exact Jaccard >= threshold over the *hashed* shingle
    sets (32-bit md5 prefixes — collision probability per pair is
    ~2e-5, and both the Spark side and the DuckDB oracle use the same
    hashes, so parity is exact). Verifying on the 8-byte hashes instead
    of the shingle strings keeps the verify-join shuffle ~2.5× smaller."""
    # read three times (both verify sides, the bands): a lazy
    # checkpoint computes the signatures once, in the first job that
    # reads them (AQE runs the spreading exchange below it at build),
    # and its blocks go with the pairs frame. Without it this query
    # took 5.72 s instead of 4.12 s at sf1 (4 cores)
    feats = minhash_features(spark, sf_dir).localCheckpoint(eager=False)
    sh = feats.select("doc_id", F.array_distinct("hs").alias("hset"))
    bands = _bands_of(feats)
    # Candidate generation (r12): ONE aggregation per LSH bucket, not a
    # self-join — the winnow shape. Each (band, band_hash) group holds
    # distinct doc_ids (one band row per doc), so the sorted collected
    # array expands the identical a<b pair set row-locally; the bands
    # relation crosses one exchange (the groupBy) instead of the
    # self-join's two. r13 (VERDICT r12 #2): the expansion is STREAMED
    # (see :func:`_expand_bucket_pairs`) — the r12 flatten/transform
    # shape built the whole |bucket|^2/2 pair array as ONE in-row value
    # before explode, so a degenerate hot bucket cost quadratic memory
    # in a single row where the old join streamed/spilled.
    grouped = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    cand = _expand_bucket_pairs(grouped).distinct()
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("hs_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hs_b"))
    return verify_jaccard(
        cand.join(sa, "doc_a").join(sb, "doc_b"), "doc_a", "doc_b", "hs_a", "hs_b", JACCARD_THRESHOLD
    )


def verify_jaccard(
    cand: DataFrame, id_a: str, id_b: str, set_a: str, set_b: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, n_inter, n_union, jaccard) of the candidate pairs
    whose deduped hash sets reach Jaccard >= ``threshold`` — one
    projection (``n_union`` and ``jaccard`` read the earlier columns as
    lateral aliases, so the set intersection runs once per pair) and
    one filter. The batch pairs and the index probe both verify here."""
    return cand.selectExpr(
        id_a,
        id_b,
        f"size(array_intersect({set_a}, {set_b})) AS n_inter",
        f"size({set_a}) + size({set_b}) - n_inter AS n_union",
        "CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)"
        " ELSE 0.0D END AS jaccard",
    ).where(F.col("jaccard") >= threshold)


def minhash_pairs_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    shing = sql_shingles_over_toks("duckdb")
    shingle_hash = sql_md5_long("s", "duckdb")
    band_hashes = ", ".join(
        f"{sql_minhash_band_hash('duckdb', b)} AS bh{b}" for b in range(MH_BANDS)
    )
    bh_unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bh{b} AS band_hash FROM sigs" for b in range(MH_BANDS)
    )
    return f"""
    WITH tk AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (SELECT doc_id, {shing} AS sh FROM tk),
    hsrel AS (SELECT doc_id, list_transform(sh, s -> {shingle_hash}) AS hs FROM sh),
    hsets AS (SELECT doc_id, list_distinct(hs) AS hset FROM hsrel),
    sigs AS (SELECT doc_id, {band_hashes} FROM hsrel),
    bands AS ({bh_unpivot}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.hset, sb.hset)) AS n_inter,
             len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset)) AS n_union
      FROM cand
      JOIN hsets sa ON sa.doc_id = doc_a
      JOIN hsets sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) ELSE 0.0 END AS jaccard
    FROM verified
    WHERE (CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) ELSE 0.0 END) >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document via bit-sliced aggregation:
    explode(tokens) → md5-long → one majority-vote sum per bit →
    reassemble. One shuffle (groupBy doc_id); the 32 sums are a single
    aggregate pass.

    The frame is the Spark SQL text the oracle shares
    (:func:`_simhash_sql`), run over the documents frame, so building
    it costs a few dozen py4j calls instead of one per Column node
    (about 5,000 for 32 ``when`` sums and a 32-term ``when`` fold)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return spark.sql(_simhash_sql("spark", "{docs}"), docs=docs)


def _simhash_sql(dialect: str, docs: str) -> str:
    """SimHash per (doc_id, text) row of the relation ``docs``, as
    Spark SQL or DuckDB text: the bit-sliced sums and the fold are
    written once for both engines."""
    toks = sql_tokens("text", dialect)
    h = sql_md5_long("tok", dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {h} AS h
      FROM (SELECT doc_id, {unnest}({toks}) AS tok FROM {docs}) _t
    ),
    agg AS (SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM agg
    """


def simhash_oracle() -> str:
    return _simhash_sql("duckdb", "documents")


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance 3 of the 32-bit SimHash,
    via 4×8-bit block LSH (any pair within distance 3 shares at least
    one exact block — pigeonhole), then exact popcount verification."""
    sh = simhash_df(spark, sf_dir)
    # r12 optimization: the old shape unioned four per-block
    # projections of sh (sh subtree x4) and then self-joined the union
    # (x2) — the full explode+md5+bit-slice simhash pipeline executed
    # EIGHT times per run. One posexplode emits the same four
    # (blk, bval) rows per doc in a single pass. Identical candidate
    # set.
    bvals = F.array(
        *[
            F.shiftright(F.col("simhash"), blk * 8).bitwiseAND(F.lit(0xFF))
            for blk in range(4)
        ]
    )
    bdf = sh.select("doc_id", "simhash", F.posexplode(bvals).alias("blk", "bval"))
    a, b = bdf.alias("a"), bdf.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.bval") == F.col("b.bval")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).where(F.col("hamming") <= 3)


def simhash_pairs_oracle() -> str:
    inner = simhash_oracle()
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {blk} AS blk, (simhash >> {blk*8}) & 255 AS bval FROM sh"
        for blk in range(4)
    )
    return f"""
    WITH sh AS ({inner}),
    blocks AS ({blocks}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (rare-gram blocking: candidate generation is an
# equi-join on each document's rarest grams, never an all-pairs block)
# ---------------------------------------------------------------------------

NGRAM_BLOCK_B = 6  # blocking grams per document (its B globally rarest)
# A gram may be nominated for blocking only while its document frequency
# stays under this corpus-relative ceiling: df <= max(FLOOR, ceil(FRAC*N)).
# A gram in >5% of the corpus has no blocking selectivity (its bucket is
# 5% of all documents -> the bucket self-join alone is 0.125% of the full
# n^2 pair space PER GRAM), so hot grams only add quadratic verify cost
# without finding pairs the rarer grams miss. Measured on the derived sf1
# corpus (50k docs, boilerplate-heavy): uncapped blocking degenerates to
# 952 grams / 111M candidate pairs (15+ min verify); the 5% ceiling cuts
# that to ~8M. The floor keeps tiny corpora (driver gate sf0.01: 500
# docs, max df 22) bit-identical to uncapped blocking.
NGRAM_DF_CAP_FRAC = 0.05
NGRAM_DF_CAP_FLOOR = 64
# Jaccard admission threshold — ONE constant feeding the final filter,
# the (provably output-preserving) length-ratio prefilter, AND the
# DuckDB oracle, so the three can never drift apart (ADVICE r5).
NGRAM_JACCARD_T = 0.35


def _gram_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, g) — deduped character-4-gram set per document.

    The normalized text is materialized as its own projection so the
    regexp runs once per document, not once per gram position (a ~7x
    end-to-end difference measured at sf0.01; the oracle mirrors the
    same shape with a CTE)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    n = docs.select("doc_id", "lang", norm.alias("nm"))
    grams = F.array_distinct(
        F.transform(
            _gram_positions(F.length("nm"), 4),
            lambda i: F.col("nm").substr(i, F.lit(4)),
        )
    )
    return n.select("doc_id", "lang", grams.alias("g"))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard near-dup pairs with rare-gram blocking.

    Candidate generation: each document nominates its ``NGRAM_BLOCK_B``
    globally rarest grams (by corpus document frequency, (df, gram)
    tie-break for determinism) among grams under the corpus-relative df
    ceiling ``max(NGRAM_DF_CAP_FLOOR, ceil(NGRAM_DF_CAP_FRAC * N))``;
    two documents become a candidate pair iff they share a nominated
    gram — an equi-join on the gram, exactly the MinHash band-bucket
    shape. Near-dups share most of their grams, so they collide on rare
    grams with high probability; the ceiling drops documents made
    ENTIRELY of hot boilerplate grams from this blocking (a bucket 5%
    of the corpus wide is a quadratic verify bill with no selectivity —
    the standard skip-oversized-buckets rule in LSH dedup), whose
    near-dups the cheaper MinHash path still recovers. Verification is
    exact set arithmetic (array_intersect, evaluated once per
    candidate) keeping same-``lang`` pairs with Jaccard >= 0.35.

    At 100 TB: the df aggregation and the per-doc top-B are linear
    scans + one gram-keyed shuffle; the relative ceiling bounds every
    bucket self-join at (0.05 N)^2 per gram and in practice (measured
    at the derived sf1) cuts candidates ~14x on boilerplate-heavy
    corpora while the blocked-document set stays the informative slice.
    """
    from pyspark.sql import Window

    # r12 optimization: g feeds the df aggregation, the blocking
    # relation (referenced twice via the candidate self-join), the
    # length-ratio screen and both verify sides — lazily the
    # normalize+gram computation ran ~7x per query. Checkpoint the
    # (doc_id, lang, grams) relation once; every consumer reads it.
    # Under AQE a lazy checkpoint runs the exchanges below it when it
    # is built, so this build runs Spark jobs; removing it doubled the
    # query at sf0.1 (11.4 -> 24.4 s, 4 cores).
    g = _gram_sets(spark, sf_dir).localCheckpoint(eager=False)
    # the df ceiling is a 1-row broadcast relation, not an eager
    # .count() at plan-construction time (ADVICE r5: building the
    # DataFrame must not run a Spark job)
    cap = load_table(spark, sf_dir, "documents").agg(
        F.greatest(
            F.lit(NGRAM_DF_CAP_FLOOR).cast("long"),
            F.ceil(F.lit(NGRAM_DF_CAP_FRAC) * F.count("*")).cast("long"),
        ).alias("df_cap")
    )
    dg = g.select("doc_id", F.explode("g").alias("gram"))
    df_t = dg.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("gram").asc())
    block = (
        dg.join(df_t, "gram")
        .join(F.broadcast(cap))  # 1-row cross: the scalar-subquery shape
        .where(F.col("df") <= F.col("df_cap"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NGRAM_BLOCK_B)
        .select("gram", "doc_id")
        # tiny (<= B rows per doc) and self-joined below — checkpoint
        # so the df-join + top-B window run once, not twice (without
        # it the query took 127 s instead of 46 s at sf1, 4 cores)
        .localCheckpoint(eager=False)
    )
    cand = (
        block.alias("x")
        .join(block.alias("y"), "gram")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Length-ratio prefilter (the AllPairs/PPJoin size bound): since
    # |A ∩ B| <= min(sa, sb), Jaccard >= t forces min(sa, sb) >=
    # t * max(sa, sb). Screening candidates on the slim (doc_id, lang,
    # size) projection prunes most of them BEFORE the expensive join
    # that ships full gram arrays; provably output-preserving, so the
    # oracle needs no twin of this step.
    meta = g.select("doc_id", "lang", F.size("g").alias("sz"))
    screened = (
        cand.join(
            meta.select(
                F.col("doc_id").alias("doc_a"),
                F.col("lang").alias("lang"),
                F.col("sz").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("lang_b"),
                F.col("sz").alias("sb"),
            ),
            "doc_b",
        )
        .where(
            (F.col("lang") == F.col("lang_b"))
            & (
                F.least("sa", "sb").cast("double")
                >= NGRAM_JACCARD_T * F.greatest("sa", "sb").cast("double")
            )
        )
        .select("lang", "doc_a", "doc_b")
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    scored = (
        screened.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "lang", "doc_a", "doc_b",
            F.size(F.array_intersect("g_a", "g_b")).alias("n_inter"),
            F.size("g_a").alias("sa"), F.size("g_b").alias("sb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("n_inter")
    ).cast("double")
    return scored.select("lang", "doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= NGRAM_JACCARD_T
    )


def ngram_jaccard_oracle() -> str:
    return f"""
    WITH n AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(length(nm) - 3, 0)),
               i -> substring(nm, i, 4))) AS g
      FROM n
    ),
    dg AS (SELECT doc_id, unnest(g) AS gram FROM g),
    dft AS (SELECT gram, count(*) AS df FROM dg GROUP BY gram),
    cap AS (
      SELECT greatest({NGRAM_DF_CAP_FLOOR},
                      CAST(ceil({NGRAM_DF_CAP_FRAC} * count(*)) AS BIGINT))
             AS df_cap
      FROM documents
    ),
    block AS (
      SELECT gram, doc_id FROM (
        SELECT dg.gram, dg.doc_id,
               row_number() OVER (PARTITION BY dg.doc_id
                                  ORDER BY df ASC, dg.gram ASC) AS rk
        FROM dg JOIN dft USING (gram)
        WHERE df <= (SELECT df_cap FROM cap)
      ) t WHERE rk <= {NGRAM_BLOCK_B}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM block x JOIN block y
        ON x.gram = y.gram AND x.doc_id < y.doc_id
    ),
    scored AS (
      SELECT a.lang, doc_a, doc_b,
             len(list_intersect(a.g, b.g)) AS n_inter,
             len(a.g) AS sa, len(b.g) AS sb
      FROM cand
      JOIN g a ON a.doc_id = doc_a
      JOIN g b ON b.doc_id = doc_b
      WHERE a.lang = b.lang
    )
    SELECT lang, doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / CAST(sa + sb - n_inter AS DOUBLE) AS jaccard
    FROM scored
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa + sb - n_inter AS DOUBLE)
          >= {NGRAM_JACCARD_T}
    """


# ---------------------------------------------------------------------------
# benchmark contamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 8
CONTAM_EVAL_MOD = 7


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: how many of its distinct token 8-grams
    also appear in the held-out eval slice (doc_id % 7 == 0) — the
    standard decontamination pass before training on scraped text.

    Scale shape: grams are 32-bit hashes (8 bytes each), the eval gram
    set is deduplicated then joined on the hash — an equi-join whose
    keys are uniform by construction. At 100 TB the eval side is tiny
    (benchmarks are MBs) → Spark broadcasts it automatically and the
    check runs at scan speed with no full shuffle of the corpus."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # Hash each token ONCE (32-bit md5-long), then combine 8 token
    # hashes per gram with shift+xor integer arithmetic. The naive
    # form — concat_ws the 8 tokens, md5 the gram string — allocates
    # ~8 strings per corpus position and runs k md5s per token; at sf1
    # that allocation pressure put 500ms young-GC pauses on the
    # critical path. The combine stays overflow-free (32-bit value
    # shifted <= 21 bits < 2^53) so DuckDB's erroring BIGINT arithmetic
    # and Spark's wrapping arithmetic agree at any scale.
    tk = docs.select(
        "doc_id",
        F.transform(
            tokens("text"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
        ).alias("ths"),
    )
    k = CONTAM_NGRAM
    n = F.size(F.col("ths"))
    idx = _gram_positions(n, k)

    def gram_hash(i):
        out = None
        for j in range(k):
            term = F.shiftleft(F.element_at(F.col("ths"), (i + j).cast("int")), 3 * j)
            out = term if out is None else out.bitwiseXOR(term)
        return out

    ghs = F.array_distinct(F.transform(idx, gram_hash))
    # Explode the gram expression INLINE. Materializing the array in a
    # projection and exploding it later lets InferFiltersFromGenerate add a
    # size(arr) > 0 filter that predicate pushdown rewrites with the whole
    # gram chain substituted — and with `toks` inlined, every element_at
    # re-tokenizes the full text (O(grams x k) re-tokenizations per doc,
    # ~7x wall-clock on this query). Inline generators get no inferred
    # filter, so the chain runs once per row.
    exploded = tk.select("doc_id", F.explode(ghs).alias("gh"))
    # The doc_id % 7 filters push below the explode AND the md5 projection,
    # so the gram chain runs once over the eval slice (1/7 of docs) and once
    # over train (6/7) — never a third time. One broadcast left-join tags
    # each train gram as contaminated-or-not, and a single aggregation
    # yields both the per-doc gram total and the hit count (the old
    # hits-join-totals shape recomputed the whole tokenize+md5 chain for
    # totals and shuffled the full train gram set into the join).
    eval_grams = (
        exploded.where(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select("gh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        exploded.where(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .where(F.col("n_contaminated") > 0)
        .select("doc_id", "n_grams", "n_contaminated")
    )


def contamination_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    k = CONTAM_NGRAM
    th = sql_md5_long("t", "duckdb")
    # shift+xor gram combine over per-token 32-bit hashes — must stay
    # the exact integer twin of contamination_check's gram_hash
    gram = f"(ths[i + 0] << 0)"
    for j in range(1, k):
        gram = f"xor({gram}, ths[i + {j}] << {3 * j})"
    grams = (
        f"list_transform(generate_series(1, greatest(len(ths) - {k-1}, 0)),"
        f" i -> {gram})"
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, list_transform({toks}, t -> {th}) AS ths FROM documents
    ),
    gh AS (
      SELECT doc_id, list_distinct({grams}) AS ghs FROM tk
    ),
    exploded AS (SELECT doc_id, unnest(ghs) AS gh FROM gh),
    eval_grams AS (
      SELECT DISTINCT gh FROM exploded WHERE doc_id % {CONTAM_EVAL_MOD} = 0
    ),
    train AS (SELECT * FROM exploded WHERE doc_id % {CONTAM_EVAL_MOD} != 0),
    hits AS (
      SELECT doc_id, count(*) AS n_contaminated
      FROM train JOIN eval_grams USING (gh) GROUP BY doc_id
    ),
    totals AS (
      SELECT doc_id, len(ghs) AS n_grams FROM gh WHERE doc_id % {CONTAM_EVAL_MOD} != 0
    )
    SELECT t.doc_id, t.n_grams, coalesce(h.n_contaminated, 0) AS n_contaminated
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    WHERE coalesce(h.n_contaminated, 0) > 0
    """


# ---------------------------------------------------------------------------
# near-dup clusters + canonical selection (pairs -> components -> keep one)
# ---------------------------------------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn MinHash near-dup PAIRS into duplicate CLUSTERS (connected
    components, operators/graph.py) and pick one canonical doc per
    cluster (longest text, doc_id tie-break) — the decision a curation
    pipeline actually needs: pairs alone over-delete transitive groups.

    Output: (doc_id, cluster_id, text_len, is_canonical) for every doc
    in some near-dup cluster. cluster_id = min doc_id of the component,
    so results are deterministic under any partitioning."""
    return _canonical_clusters(spark, sf_dir, minhash_dedup_pairs(spark, sf_dir))


def dedup_clusters_oracle() -> str:
    return _canonical_clusters_oracle(minhash_pairs_oracle())


def _canonical_clusters(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, text_len, is_canonical): the connected
    components of the (doc_a, doc_b) ``pairs``, cluster_id = min
    doc_id, with one canonical doc per cluster (longest text, doc_id
    tie-break)."""
    from pyspark.sql import Window

    from hbasewd_spark.operators.graph import connected_components

    cc = connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").alias("text_len"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("text_len").desc(), F.col("doc_id")
    )
    return (
        cc.join(docs, cc.id == docs.doc_id)
        .select("doc_id", "cluster_id", "text_len")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
    )


def _canonical_clusters_oracle(pairs: str) -> str:
    """DuckDB twin of :func:`_canonical_clusters` over the pairs query
    ``pairs``: a recursive-CTE connected components."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS lbl FROM nodes
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT cc.doc_id, cc.cluster_id, length(d.text) AS text_len,
           (row_number() OVER (PARTITION BY cc.cluster_id
                               ORDER BY length(d.text) DESC, cc.doc_id) = 1)
             AS is_canonical
    FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    """


# ---------------------------------------------------------------------------
# exact-substring dedup (repeated k-gram spans) + winnowing fingerprints
# ---------------------------------------------------------------------------
#
# Two operators for SUBSTRING-level duplication, the gap doc-level
# fingerprints (exact_dedup) and set-similarity (MinHash/SimHash/
# Jaccard) both miss: a boilerplate header pasted into thousands of
# otherwise-distinct documents never pushes whole-doc Jaccard over any
# threshold, yet it is exactly what training-data dedup wants removed
# (cf. Lee et al., "Deduplicating Training Data Makes Language Models
# Better", ACL'22 — public work; their exact-substring pass uses a
# suffix array, which is a single-machine structure; the distributed
# re-expression below is k-gram fingerprinting + winnowing, Schleimer
# et al., "Winnowing: Local Algorithms for Document Fingerprinting",
# SIGMOD'03 — the MOSS algorithm).
#
# Scale design (100 TB):
# - the k-gram relation is hashed IN the per-doc projection — only
#   (doc_id, 8-byte hash) rows ever shuffle, never gram text. Full
#   density is ~16 bytes/char of corpus; the winnowed variant divides
#   that by (w+1)/2 ≈ 4.5x while keeping the detection guarantee;
# - gram counting is a map-side-combinable hash aggregation on the
#   hash value (uniform keys by construction — no skew);
# - the pair join is blocked on the fingerprint hash with a
#   document-frequency stop-gram cap (WINNOW_MAX_DF), the standard
#   MOSS guard against the n-per-fingerprint pair blowup a
#   1000-doc boilerplate gram would otherwise cause;
# - hashes are md5-derived 32-bit (portable — the DuckDB oracle
#   reproduces every stage bit-for-bit, collisions included); swap
#   md5_long for xxhash64 in production for a 64-bit space at ~3x
#   hash throughput (same plan shape, engine-native).
SUB_K = 20            # gram width (chars): spans >= 20 chars are "exact" dups
WINNOW_W = 8          # winnowing window (grams); guarantee t = SUB_K + WINNOW_W - 1
WINNOW_MAX_DF = 32    # stop-gram cap: fingerprints in more docs are dropped
WINNOW_MIN_SHARED = 2 # report pairs sharing at least this many fingerprints
_POS_PACK = 1 << 30   # (hash, position) packed as h * 2^30 + pos: position
                      # < 2^30 (docs < 1 GiB of chars), h < 2^32 -> fits int64


def _gram_hashes(k: int = SUB_K, hash_fn: str = "md5"):
    """Array of 32-bit hashes of the character k-grams of ``text`` —
    hashing happens inside the projection so the gram strings never
    leave it (only 8-byte hashes explode/shuffle downstream).

    ``hash_fn``: "md5" (default) is the portable oracle-parity hash
    every registry query uses; "xxhash64" is the engine-native
    alternative, masked to the same 32-bit space so the winnowing
    position packing (h * 2^30 + pos) keeps its int64 headroom.
    Measured honestly at sf10: selection is only ~8% faster (47.2 s ->
    43.3 s) — the O(n*w) slice-window scan and the fingerprint
    distinct dominate, not hashing — so the knob is about avoiding a
    cryptographic dependency, not a big win. Same plan shape, same
    collision class; not cross-engine reproducible, so oracle-gated
    queries must stay on md5."""
    idx = _gram_positions(F.length("text"), k)
    if hash_fn == "xxhash64":
        return F.transform(
            idx,
            lambda i: F.pmod(
                F.xxhash64(F.col("text").substr(i, F.lit(k))), F.lit(1 << 32)
            ).cast("bigint"),
        )
    if hash_fn != "md5":
        raise ValueError(f"unknown gram hash {hash_fn!r} (md5 | xxhash64)")
    return F.transform(
        idx,
        lambda i: F.conv(
            F.substring(F.md5(F.col("text").substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("bigint"),
    )


def _sql_gram_hashes_duckdb(k: int = SUB_K) -> str:
    """DuckDB twin of :func:`_gram_hashes` (a list expression)."""
    h = sql_md5_long(f"substr(text, i, {k})", "duckdb")
    return (
        f"list_transform(generate_series(1, greatest(length(text) - {k - 1}, 0)),"
        f" i -> {h})"
    )


def substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage at full k-gram
    density: for every document with >= SUB_K chars, how many of its
    k-gram positions carry a gram that occurs more than once in the
    whole corpus (same doc or another). ``dup_permille`` is the
    integer coverage ratio — the number a curation pipeline thresholds
    on to drop boilerplate-heavy documents."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return substring_dup_coverage_of(docs)


def substring_dup_coverage_of(docs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """The coverage pipeline over any (doc_id, text) frame — the seam
    tests and incremental callers use for corpora not on disk.

    The gram-hash array is exploded INLINE (generator child = the
    transform expression, not a staged column): staging it as a named
    column lets InferFiltersFromGenerate add ``size(hs) > 0 AND
    isnotnull(hs)`` on the attribute, and filter pushdown then inlines
    the ENTIRE md5 array expression below the parallelizing exchange —
    the whole hash workload ran twice per row on the raw scan's
    partitioning (measured 10 s vs 0.7 s at sf0.1). With an expression
    child the rule does not fire and the array is built exactly once,
    after the repartition.

    Corpus-wide gram counts come from a window count over the hash
    partition, not groupBy-h + join-back: the join shape rebuilds the
    exploded relation on the probe side and (under AQE at test scale)
    broadcasts a million-entry count map; the window is one exchange
    of the single exploded relation and reads each row once (measured
    2.5 s -> 0.8 s at sf0.1, same result bit-for-bit)."""
    from pyspark.sql import Window

    ex = docs.select("doc_id", F.explode(_gram_hashes(hash_fn=hash_fn)).alias("h"))
    with_c = ex.select(
        "doc_id", F.count("*").over(Window.partitionBy("h")).alias("c")
    )
    return (
        with_c.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pos"),
            F.count(F.when(F.col("c") > 1, F.lit(1))).alias("n_dup_pos"),
        )
        .withColumn("dup_permille", F.expr("n_dup_pos * 1000 DIV n_pos"))
    )


def substring_dup_oracle() -> str:
    return f"""
    WITH g AS (
      SELECT doc_id, unnest({_sql_gram_hashes_duckdb()}) AS h
      FROM documents
    ),
    c AS (SELECT h, count(*) AS c FROM g GROUP BY h)
    SELECT doc_id, count(*) AS n_pos,
           count(CASE WHEN c > 1 THEN 1 END) AS n_dup_pos,
           (count(CASE WHEN c > 1 THEN 1 END) * 1000) // count(*) AS dup_permille
    FROM g JOIN c USING (h)
    GROUP BY doc_id
    """


def winnow_fingerprints(docs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """(doc_id, h): the winnowing-selected fingerprint set of each
    document — in every window of WINNOW_W consecutive k-gram hashes,
    the (hash, position)-minimal gram is selected (ties impossible:
    position is unique). Guarantee (Schleimer et al. §3): any
    substring match of length >= SUB_K + WINNOW_W - 1 chars shares at
    least one selected fingerprint. Density ~ 2/(WINNOW_W+1) of full
    k-gram density.

    The (hash, position) min is a min over a packed int64 —
    h * 2^30 + pos orders by hash then position, so a single ``min``
    replaces an argmin struct (which DuckDB's window min cannot take),
    and both engines agree bit-for-bit.

    The whole selection is ROW-LOCAL (whole-stage codegen, zero
    shuffle): windows are array slices of the staged packed array, not
    a window function over an exploded relation — only the selected
    fingerprints (~2/(w+1) of positions) ever explode and shuffle.
    The original exploded-window shape shuffled and sorted EVERY gram
    position (measured 3.4 s vs this plan at sf0.1; the gap widens
    with corpus size since selection is the dominant row count).
    ``packed`` is staged as a real column first: lambda bodies inline
    their argument expression per element, so slicing an inline
    expression would rebuild the full array once per window start
    (the staged-``toks`` lesson of :func:`features_of_docs`). The final
    explode's child is an expression, so InferFiltersFromGenerate stays
    disarmed (see :func:`substring_dup_coverage_of`)."""
    k, w = SUB_K, WINNOW_W
    staged = docs.select(
        "doc_id",
        F.greatest(F.length("text") - (k - 1), F.lit(0)).alias("n_pos"),
        F.transform(
            _gram_hashes(hash_fn=hash_fn), lambda x, i: x * F.lit(_POS_PACK) + i + 1
        ).alias("packed"),  # 1-based pos in the low bits
    )
    starts = F.when(
        F.col("n_pos") >= w, F.sequence(F.lit(1), (F.col("n_pos") - (w - 1)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    # window min as a least() chain of element_at lookups, NOT
    # array_min(slice(...)): slice allocates a fresh w-element array
    # per window — 207M allocations at sf10 — while the chain is pure
    # scalar comparisons in codegen (measured 44.5 s -> 28.7 s at sf10,
    # identical selection)
    sel = F.array_distinct(
        F.transform(
            starts,
            lambda j: F.least(
                *[F.element_at("packed", (j + t).cast("int")) for t in range(w)]
            ),
        )
    )
    # per-doc h dedup is ROW-LOCAL (r12 optimization): the old shape
    # exploded packed values and ran a global .distinct() on
    # (doc_id, h) — a full extra shuffle of the fingerprint stream
    # before every consumer. Dropping the position bits (shiftright by
    # the pack width; _POS_PACK is 2^30 so the shift IS the integer
    # division) and array_distinct-ing inside the row produces the
    # identical distinct (doc_id, h) set with zero exchanges: the
    # selection pipeline is now shuffle-free end to end.
    pack_bits = _POS_PACK.bit_length() - 1
    hsel = F.array_distinct(
        F.transform(sel, lambda p: F.shiftright(p, pack_bits))
    )
    return staged.select("doc_id", F.explode(hsel).alias("h"))


def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >=
    WINNOW_MIN_SHARED winnowed fingerprints, after dropping
    stop-grams (fingerprints present in > WINNOW_MAX_DF documents).
    The blocked-join shape of MOSS: candidate generation is an
    equi-join on the fingerprint hash, never an all-pairs product.

    Pair generation (r12 optimization) is ONE aggregation per hash,
    not a self-join: the earlier keep-vs-keep equi-join referenced the
    selection pipeline twice, and Spark materialized the entire
    scan -> gram-hash -> window-min subtree TWICE per run (the plan
    carried two full copies; selection is the dominant linear cost —
    ~29 s of the 74 s sf10 run). groupBy(h).collect_list gives each
    fingerprint's doc set in a single pass, the DF cap is
    size(ds) <= MAX_DF on the collected array (same predicate as the
    old window count), and the a<b pairs explode row-locally from the
    sorted array — identical pair multiset, half the selection work,
    and one exchange (the groupBy) instead of the window + join's two."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    fps = winnow_fingerprints(docs)
    grouped = (
        fps.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_MAX_DF))
    )
    # all a<b pairs of the (ascending) doc array: for element i, pair
    # with every later element — bounded by MAX_DF^2/2 per fingerprint
    pairs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_pairs_oracle() -> str:
    k, w = SUB_K, WINNOW_W
    return f"""
    WITH g AS (
      SELECT doc_id, greatest(length(text) - {k - 1}, 0) AS n_pos,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 0))) AS i,
             unnest({_sql_gram_hashes_duckdb()}) AS h
      FROM documents
    ),
    win AS (
      SELECT doc_id, i, n_pos,
             min(h * {_POS_PACK} + i) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS p
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id, p // {_POS_PACK} AS h
      FROM win WHERE i <= n_pos - {w - 1}
    ),
    fdf AS (SELECT h, count(*) AS ndocs FROM sel GROUP BY h),
    keep AS (
      SELECT s.doc_id, s.h FROM sel s JOIN fdf USING (h)
      WHERE fdf.ndocs <= {WINNOW_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document accounting of the REMOVAL step of exact-substring
    dedup (Lee et al. keep one occurrence of each duplicated span and
    cut the rest): every non-canonical occurrence of a duplicated
    k-gram (canonical = corpus-wide first by (doc_id, position)) marks
    its k chars for removal; overlapping marked grams merge into spans
    (gaps-and-islands over positions); the output is what a rewrite
    would delete — span count, removed chars, kept chars — per doc.

    Scale: the canonicality decision is one row_number window
    PARTITIONED BY the gram hash (uniform keys — no hot partition, and
    each partition is the gram's tiny occurrence list); the island
    merge windows are per-document. Only (doc_id, hash, position)
    triples shuffle, never text.

    Docs with no duplicated grams emit (0, 0, length) — the LEFT join
    against the dup-occurrence relation keeps every document in the
    output, so the result is a full rewrite plan, not a report on the
    dirty subset."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return substring_dup_spans_of(docs)


def _dup_spans_of(docs: DataFrame) -> DataFrame:
    """(doc_id, s, e): the maximal char spans [s, e] (1-based,
    inclusive) every NON-CANONICAL occurrence of a duplicated k-gram
    marks for removal — the shared core of the span ACCOUNTING
    (:func:`substring_dup_spans_of`) and the span REWRITE
    (:func:`substring_dup_rewrite_of`). Spans within one doc are
    disjoint with s > prev_e by construction (overlapping/touching
    marked grams merge into one island), so a rewrite can cut them in
    one left-to-right pass."""
    from pyspark.sql import Window

    k = SUB_K
    ex = docs.select("doc_id", F.posexplode(_gram_hashes()).alias("idx", "h")).select(
        "doc_id", (F.col("idx") + 1).alias("i"), "h"
    )
    # canonicality = row_number over (h) ordered by (doc_id, i), and
    # NOTHING else: rn > 1 already implies the gram occurs more than
    # once, so the count-over-h window the accounting used to share
    # with coverage was pure redundancy here — dropping it removes a
    # whole second WindowExec pass (and its partition buffering) over
    # the exploded gram relation. Two further "optimizations" were
    # measured and rejected at sf10 (r12): an orderless
    # count+min(struct) single-spec window runs 2x SLOWER than the
    # rank (struct allocation + comparison per row swamps the saved
    # sort keys — the h exchange dominates the sort either way), and a
    # packed doc_id*2^30+i bigint min overflows int64 for arbitrary
    # key-shifted doc_ids (ANSI kills the job; non-ANSI would corrupt
    # silently).
    wr = Window.partitionBy("h").orderBy("doc_id", "i")
    dup_occ = (
        ex.select("doc_id", "i", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") > 1)
        .select("doc_id", "i")
    )
    # gaps-and-islands: a new span starts when this gram no longer
    # overlaps the furthest end seen so far ([i, i+k-1] vs max prior i
    # + k - 1; positions are sorted, so prior max end = prior max i + k - 1)
    wd = Window.partitionBy("doc_id").orderBy("i")
    prev_max = F.max("i").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    marked = dup_occ.select(
        "doc_id",
        "i",
        F.when(prev_max.isNull() | (F.col("i") > prev_max + (k - 1)), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    grouped = marked.select(
        "doc_id",
        "i",
        F.sum("is_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias("grp"),
    )
    return grouped.groupBy("doc_id", "grp").agg(
        F.min("i").alias("s"), (F.max("i") + (k - 1)).alias("e")
    ).select("doc_id", "s", "e")


def substring_dup_spans_of(docs: DataFrame) -> DataFrame:
    """The span-removal pipeline over any (doc_id, text) frame — the
    seam tests and incremental callers use for corpora not on disk."""
    base = docs.select("doc_id", F.length("text").alias("n_chars"))
    spans = _dup_spans_of(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("removed_chars"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
            (F.col("n_chars") - F.coalesce("removed_chars", F.lit(0))).alias(
                "kept_chars"
            ),
        )
    )


def substring_spans_oracle() -> str:
    k = SUB_K
    return f"""
    WITH ex AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 0))) AS i,
             unnest({_sql_gram_hashes_duckdb()}) AS h
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      FROM ex
    ),
    dup_occ AS (SELECT doc_id, i FROM occ WHERE rn > 1),
    marked AS (
      SELECT doc_id, i,
             CASE WHEN max(i) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR i > max(i) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {k - 1}
             THEN 1 ELSE 0 END AS is_new
      FROM dup_occ
    ),
    grouped AS (
      SELECT doc_id, i,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, grp, min(i) AS s, max(i) + {k - 1} AS e
      FROM grouped GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_dup_spans, 0) AS n_dup_spans,
           coalesce(p.removed_chars, 0) AS removed_chars,
           length(d.text) - coalesce(p.removed_chars, 0) AS kept_chars
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def substring_dup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the REWRITE step completing Lee et al.'s
    exact-substring dedup (cf. ACL'22 §4.2 — keep the corpus-wide
    first occurrence of every duplicated span, CUT the rest): emits
    the cleaned text itself, not just the accounting
    (:func:`substring_dup_spans`). Docs with no duplicated grams pass
    through byte-identical."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    return substring_dup_rewrite_of(docs)


def substring_dup_rewrite_of(docs: DataFrame) -> DataFrame:
    """(doc_id, rewritten_text, kept_chars) over any (doc_id, text)
    frame: every non-canonical duplicated span (see
    :func:`_dup_spans_of` — disjoint, ascending, stubs within k-1
    chars already merged into their islands) is cut from the text in
    one left-to-right pass.

    The cut is a single Catalyst ``aggregate`` over the collected span
    array — a fold carrying (cursor, output): each span appends the
    clean slice [cursor, s) and advances the cursor to e+1; the finish
    lambda appends the tail. Row-local whole-stage codegen; no Python.

    Scale shape: the span relation (docs-with-dups only, two ints per
    span) is the small side — it groups to one array row per dirty doc
    and joins back to the corpus on doc_id. When it fits an executor
    the join broadcasts and NO text crosses an exchange; above that
    the corpus shuffles on doc_id exactly once — unavoidable for any
    operator whose OUTPUT is rewritten text, and still ~16x less
    traffic than the gram relation the span computation already
    shuffles (hashes only, never text)."""
    spans = _dup_spans_of(docs)
    span_arr = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s").alias("s"), F.col("e").alias("e")))
        ).alias("spans")
    )
    cut = F.aggregate(
        "spans",
        F.struct(
            F.lit(1).cast("int").alias("pos"), F.lit("").alias("out")
        ),
        lambda acc, sp: F.struct(
            (sp.e + 1).cast("int").alias("pos"),
            F.concat(
                acc.out, F.col("text").substr(acc.pos, sp.s - acc.pos)
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc.out,
            F.col("text").substr(acc.pos, F.length("text") - acc.pos + 1),
        ),
    )
    return (
        docs.select("doc_id", "text")
        .join(span_arr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("spans").isNull(), F.col("text"))
            .otherwise(cut)
            .alias("rewritten_text"),
        )
        .withColumn("kept_chars", F.length("rewritten_text"))
    )


def substring_rewrite_oracle() -> str:
    """DuckDB twin of the span-cut: clean slices between consecutive
    spans (lag window) + the tail, string_agg'd in span order."""
    k = SUB_K
    return f"""
    WITH ex AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 0))) AS i,
             unnest({_sql_gram_hashes_duckdb()}) AS h
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      FROM ex
    ),
    dup_occ AS (SELECT doc_id, i FROM occ WHERE rn > 1),
    marked AS (
      SELECT doc_id, i,
             CASE WHEN max(i) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR i > max(i) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {k - 1}
             THEN 1 ELSE 0 END AS is_new
      FROM dup_occ
    ),
    grouped AS (
      SELECT doc_id, i,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM marked
    ),
    spans AS (
      SELECT doc_id, grp, min(i) AS s, max(i) + {k - 1} AS e
      FROM grouped GROUP BY doc_id, grp
    ),
    segs AS (
      SELECT doc_id, s,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
      FROM spans
    ),
    pieces AS (
      SELECT g.doc_id, g.s AS ord, substr(d.text, g.pe + 1, g.s - g.pe - 1) AS piece
      FROM segs g JOIN documents d USING (doc_id)
      UNION ALL
      SELECT t.doc_id, 2147483647 AS ord, substr(d.text, t.mx + 1) AS piece
      FROM (SELECT doc_id, max(e) AS mx FROM spans GROUP BY doc_id) t
      JOIN documents d USING (doc_id)
    ),
    rw AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS rtext
      FROM pieces GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(rw.rtext, d.text) AS rewritten_text,
           length(coalesce(rw.rtext, d.text)) AS kept_chars
    FROM documents d LEFT JOIN rw USING (doc_id)
    """


def winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate CLUSTERS: winnow near-dup pairs ->
    connected components -> one canonical doc per cluster (longest
    text, doc_id tie-break). The substring twin of :func:`dedup_clusters`
    — boilerplate families that doc-level MinHash never links (shared
    header, distinct bodies) land in one component here and a curation
    pipeline keeps exactly one copy of the template.

    Output: (doc_id, cluster_id, text_len, is_canonical) for every doc
    in some cluster; cluster_id = min doc_id of the component."""
    return _canonical_clusters(spark, sf_dir, winnow_neardup_pairs(spark, sf_dir))


def winnow_clusters_oracle() -> str:
    return _canonical_clusters_oracle(winnow_pairs_oracle())


# ---------------------------------------------------------------------------
# incremental winnow index: persisted corpus fingerprints + batch probe
# ---------------------------------------------------------------------------
#
# The substring twin of the MinHash incremental index
# (minhash_index.py): a daily-ingest pipeline should not re-fingerprint
# the corpus to ask "does this batch share boilerplate with anything we
# already hold". The index is the winnowed fingerprint relation
# (doc_id, h) with corpus-side stop-grams (df > WINNOW_MAX_DF) dropped
# AT BUILD TIME — the cap is an index property, so probes are a pure
# equi-join no matter how common a batch-side gram is. At scale the
# probe shuffles only the batch's selected fingerprints (~2/(w+1) of
# its positions); the corpus relation is read pre-partitioned from
# disk and never recomputed.

WINNOW_INC_BATCH_MOD = 10  # doc_id % 10 == 0 plays the "daily increment"


def build_winnow_index(spark: SparkSession, corpus_docs: DataFrame, path: str) -> None:
    """Persist the stop-gram-capped winnowed fingerprint relation
    (window-count cap — one selection pass, see winnow_neardup_pairs)."""
    from pyspark.sql import Window

    fps = winnow_fingerprints(corpus_docs)
    (
        fps.select(
            "doc_id", "h", F.count("*").over(Window.partitionBy("h")).alias("ndocs")
        )
        .where(F.col("ndocs") <= WINNOW_MAX_DF)
        .select("doc_id", "h")
        .write.mode("overwrite")
        .parquet(path)
    )


def probe_winnow_index(spark: SparkSession, batch_docs: DataFrame, path: str) -> DataFrame:
    """(new_doc_id, corpus_doc_id, n_shared) for batch docs sharing >=
    WINNOW_MIN_SHARED indexed fingerprints with a corpus doc."""
    idx = spark.read.parquet(path)
    bfps = winnow_fingerprints(batch_docs)
    return (
        bfps.alias("b")
        .join(idx.alias("c"), "h")
        .groupBy(
            F.col("b.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: split documents into corpus (doc_id % 10 != 0)
    and batch (doc_id % 10 == 0), build the persisted index from the
    corpus, probe the batch — the substring-level admission decision a
    streaming ingest would make. The index lives in a
    :func:`scratch_dir`; the REBUILD on every invocation is deliberate
    (the build is the measured operator)."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.pmod("doc_id", F.lit(WINNOW_INC_BATCH_MOD)) != 0)
    batch = docs.where(F.pmod("doc_id", F.lit(WINNOW_INC_BATCH_MOD)) == 0)
    path = scratch_dir(spark, "hbasewd_wnidx", sf_dir)
    build_winnow_index(spark, corpus, path)
    return probe_winnow_index(spark, batch, path)


def winnow_incremental_oracle() -> str:
    """Full-recompute SQL twin restricted to (batch x corpus) pairs
    with the corpus-side stop-gram cap — equals the index probe by
    construction."""
    k, w, m = SUB_K, WINNOW_W, WINNOW_INC_BATCH_MOD
    return f"""
    WITH g AS (
      SELECT doc_id, greatest(length(text) - {k - 1}, 0) AS n_pos,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 0))) AS i,
             unnest({_sql_gram_hashes_duckdb()}) AS h
      FROM documents
    ),
    win AS (
      SELECT doc_id, i, n_pos,
             min(h * {_POS_PACK} + i) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS p
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id, p // {_POS_PACK} AS h
      FROM win WHERE i <= n_pos - {w - 1}
    ),
    corpus AS (SELECT doc_id, h FROM sel WHERE doc_id % {m} != 0),
    cdf AS (SELECT h, count(*) AS ndocs FROM corpus GROUP BY h),
    idx AS (
      SELECT c.doc_id, c.h FROM corpus c JOIN cdf USING (h)
      WHERE cdf.ndocs <= {WINNOW_MAX_DF}
    ),
    batch AS (SELECT doc_id, h FROM sel WHERE doc_id % {m} = 0)
    SELECT b.doc_id AS new_doc_id, i.doc_id AS corpus_doc_id, count(*) AS n_shared
    FROM batch b JOIN idx i ON b.h = i.h
    GROUP BY 1, 2
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """
