"""Corpus-curation planning operators (LLM-pipeline extension layer).

Two operators a training-data pipeline runs before (or instead of)
heavier dedup passes:

- :func:`passage_dedup` — repeated-passage removal: segment every
  document into fixed token windows, fingerprint each segment, and mark
  every re-occurrence of a fingerprint after its first (corpus-global)
  appearance. This is the CCNet / RefinedWeb paragraph-dedup shape —
  boilerplate, licence blocks, and templated passages collapse to their
  first occurrence while unique prose survives.
- :func:`domain_mixture` — mixture reweighting: given per-domain target
  weights, compute each source's current token share and the sampling
  rate that realizes the target mixture without upsampling any domain
  (the most-upweighted domain samples at 1.0, everything else
  subsamples) — the planning step behind Pile/DoReMi-style mixtures.

Both are pure Catalyst (no UDFs) with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.functions.text import sql_tokens, tokens
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

SEG_TOKENS = 20
# seg_idx is bounded by (max tokens per doc) / SEG_TOKENS; 1e6 segments
# = 20M tokens per document, far beyond any real document
_SEG_KEY_BASE = 1_000_000


def _segments(docs: DataFrame, with_text: bool = False) -> DataFrame:
    """Single definition of corpus segmentation, shared by the profile
    (:func:`passage_dedup`) and rewrite (:func:`passage_scrub`) twins —
    the fp/seg_key definitions MUST stay bit-identical between them or
    the twin relationship silently breaks. Emits (doc_id, seg_idx, fp,
    seg_key[, seg_text])."""
    base = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") > 0
    )
    n_segs = F.expr(f"(size(toks) + {SEG_TOKENS - 1}) div {SEG_TOKENS}").cast("int")
    seg_text = F.array_join(
        F.slice("toks", F.col("seg_idx") * SEG_TOKENS + 1, SEG_TOKENS), " "
    )
    cols = [
        F.col("doc_id"),
        F.col("seg_idx"),
        F.md5(seg_text).alias("fp"),
        (F.col("doc_id") * _SEG_KEY_BASE + F.col("seg_idx")).alias("seg_key"),
    ]
    if with_text:
        cols.insert(2, seg_text.alias("seg_text"))
    return base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_idx"),
        F.col("toks"),
    ).select(*cols)


def _sql_segs(with_text: bool = False) -> str:
    """DuckDB twin of :func:`_segments` (base + segs CTE bodies)."""
    toks = sql_tokens("text", "duckdb")
    seg_text = (
        f"array_to_string(toks[seg_idx * {SEG_TOKENS} + 1 :"
        f" seg_idx * {SEG_TOKENS} + {SEG_TOKENS}], ' ')"
    )
    text_col = f"{seg_text} AS seg_text," if with_text else ""
    return f"""
    base AS (
      SELECT doc_id, {toks} AS toks FROM documents WHERE len({toks}) > 0
    ),
    segs AS (
      SELECT doc_id, seg_idx, {text_col}
             md5({seg_text}) AS fp,
             doc_id * {_SEG_KEY_BASE} + seg_idx AS seg_key
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, CAST((len(toks) + {SEG_TOKENS - 1}) / {SEG_TOKENS} AS INTEGER) - 1)) AS seg_idx
        FROM base
      ) t
    )"""


def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-passage profile: (doc_id, n_segments,
    n_dup_segments, dup_ratio) where a segment (a :data:`SEG_TOKENS`-token
    window) is a duplicate iff the same md5 fingerprint occurred earlier
    in the corpus (at a smaller (doc_id, seg_idx)).

    First-occurrence resolution is a map-side-combinable ``min`` per
    fingerprint joined back on the fingerprint — NOT a row_number
    window: a window must sort every fingerprint group, and the hottest
    fingerprints (boilerplate) are exactly the biggest groups, so the
    window form turns corpus skew into straggler tasks. The min-agg
    form reduces each group to one row at map side regardless of skew.

    At 100 TB: segmentation is an inline generator (zero shuffle);
    the dedup pass shuffles only the slim (fp, seg_key) relation twice
    (agg + join back); the per-doc rollup re-shuffles (doc_id,
    is_dup) pairs. Payload text never shuffles."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # r12 optimization: segs feeds both the first-occurrence aggregate
    # and the mark join, so the tokenize+md5 segmentation generator ran
    # twice (two Generate subtrees in the plan). The relation is slim
    # (doc_id, seg_key, fp — no text); one checkpoint (filled by the
    # first job that reads it) trades a ~24 B/row serialize for the
    # second full segmentation pass, the same persist-the-projection
    # stance quality_calibration documents (without it: 2.25 s instead
    # of 1.29 s at sf1, 4 cores).
    segs = _segments(docs).localCheckpoint(eager=False)
    firsts = segs.groupBy("fp").agg(F.min("seg_key").alias("first_key"))
    marked = segs.join(firsts, "fp").select(
        "doc_id", (F.col("seg_key") != F.col("first_key")).alias("is_dup")
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_segments"),
        (
            F.sum(F.col("is_dup").cast("long")).cast("double") / F.count("*")
        ).alias("dup_ratio"),
    )


def passage_dedup_oracle() -> str:
    return f"""
    WITH {_sql_segs()},
    firsts AS (SELECT fp, min(seg_key) AS first_key FROM segs GROUP BY fp),
    marked AS (
      SELECT s.doc_id, s.seg_key <> f.first_key AS is_dup
      FROM segs s JOIN firsts f ON s.fp = f.fp
    )
    -- CAST on the sum: DuckDB sum(BIGINT) is HUGEINT, which hash-mismatches
    SELECT doc_id, count(*) AS n_segments,
           CAST(sum(CAST(is_dup AS BIGINT)) AS BIGINT) AS n_dup_segments,
           CAST(sum(CAST(is_dup AS BIGINT)) AS DOUBLE) / count(*) AS dup_ratio
    FROM marked GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# domain mixture reweighting
# ---------------------------------------------------------------------------

_N_TARGET_CLASSES = 4  # deterministic target weight = (source number % 4) + 1


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan realizing a target token mixture:
    (source, n_docs, n_tokens, current_share, target_share,
    sample_rate, expected_tokens).

    Target weights are a deterministic fixture — weight (src_number %
    4) + 1 per source, normalized — standing in for the hand-tuned (or
    DoReMi-learned) per-domain weights a real pipeline feeds in.
    ``sample_rate`` is scaled so the most-underrepresented domain (the
    largest target/current ratio) keeps 100% of its tokens and every
    other domain subsamples proportionally — the mixture achievable
    without repeating data.

    At 100 TB: one map-side-combinable aggregate over the corpus; the
    share/rate arithmetic runs on the |sources|-row result (a bounded
    domain catalog). The corpus-wide totals and the max ratio are
    one-row aggregates cross-broadcast back in — no unpartitioned
    window anywhere in the plan. Every division is IEEE double over
    exactly-summed BIGINTs, so results are bit-identical cross-engine."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # r12 optimization: per_src feeds totals, max_ratio and the final
    # select — four lazy references that each re-ran the corpus
    # tokenize+aggregate. The relation is |sources| rows; one
    # localCheckpoint (filled by the first job that reads it) makes
    # every downstream step re-aggregate it instead (corpus passes
    # 4 -> 1; without it: 0.98 s instead of 0.79 s at sf1, 4 cores).
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("long")).alias("n_tokens"),
    ).withColumn(
        "w", F.substring("source", 4, 10).cast("int") % _N_TARGET_CLASSES + 1
    ).localCheckpoint(eager=False)
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w").alias("tot_w")
    )
    shares = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")).alias(
            "current_share"
        ),
        (F.col("w").cast("double") / F.col("tot_w").cast("double")).alias(
            "target_share"
        ),
    )
    ratio = F.col("target_share") / F.col("current_share")
    max_ratio = shares.agg(F.max(ratio).alias("max_ratio"))
    rated = shares.crossJoin(F.broadcast(max_ratio)).withColumn(
        "sample_rate", ratio / F.col("max_ratio")
    )
    return rated.select(
        "source",
        "n_docs",
        "n_tokens",
        "current_share",
        "target_share",
        "sample_rate",
        (F.col("n_tokens") * F.col("sample_rate")).alias("expected_tokens"),
    )


def domain_mixture_oracle() -> str:
    toks = sql_tokens("text", "duckdb")
    return f"""
    WITH per_src AS (
      -- CAST on the sum: DuckDB sum(BIGINT) is HUGEINT, which hash-mismatches
      SELECT source, count(*) AS n_docs,
             CAST(sum(CAST(len({toks}) AS BIGINT)) AS BIGINT) AS n_tokens,
             CAST(substring(source, 4, 10) AS INTEGER) % {_N_TARGET_CLASSES} + 1 AS w
      FROM documents GROUP BY source
    ),
    shares AS (
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS current_share,
             CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS target_share
      FROM per_src
    )
    SELECT source, n_docs, n_tokens, current_share, target_share,
           (target_share / current_share)
             / max(target_share / current_share) OVER () AS sample_rate,
           n_tokens * ((target_share / current_share)
             / max(target_share / current_share) OVER ()) AS expected_tokens
    FROM shares
    """


# ---------------------------------------------------------------------------
# temperature-scaled mixture resampling
# ---------------------------------------------------------------------------

TEMP_BUDGET = 250  # documents to draw across all languages
_WQUANT = 1_000_000_000  # 1e-9 quantization for the sqrt-weight total


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (T=2, i.e. alpha=0.5) language resampling:
    (lang, n_docs, p_temp, sample_rate, sampled_n). Mixture weights
    w_l = sqrt(n_l) flatten the head and lift the tail — the standard
    multilingual-LM recipe (mBERT/XLM-R exponent-smoothed sampling) —
    and the realized sample is drawn with the engine's deterministic
    hash-bucket sampler, so membership is a pure function of doc_id:
    stable across partitioning, retries, and engines.

    Cross-engine exact by construction: sqrt is IEEE-correctly-rounded
    (identical on both engines, unlike ln), the weight total sums
    ``floor(w*1e9 + 0.5)`` integer-quantized weights (order-independent
    AND tie-free — a double->decimal cast here would reintroduce the
    HALF_UP-vs-half-even tie divergence this repo banned), and every
    remaining step is a single IEEE divide/multiply on identical
    operands.

    At 100 TB: one map-side-combinable count per language, rate
    arithmetic on the |langs|-row result, then one scan-resident
    hash-filter pass (the CASE threshold lives in whole-stage codegen)
    — the corpus shuffles zero times beyond the per-lang count."""
    from hbasewd_spark.operators.sampling import _SPACE, sample_bucket

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = F.sqrt(F.col("n_docs").cast("double"))
    wq = F.floor(w * _WQUANT + F.lit(0.5)).cast("long")
    total = counts.agg(
        (F.sum(wq).cast("double") / F.lit(float(_WQUANT))).alias("s_w")
    )
    p_temp = w / F.col("s_w")
    rates = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        p_temp.alias("p_temp"),
        F.least(
            F.lit(1.0), TEMP_BUDGET * p_temp / F.col("n_docs").cast("double")
        ).alias("sample_rate"),
    )
    kept = docs.join(F.broadcast(rates), "lang").where(
        sample_bucket("doc_id")
        < F.round(F.col("sample_rate") * _SPACE).cast("long")
    )
    sampled = kept.groupBy("lang").agg(F.count("*").alias("sampled_n"))
    return (
        rates.join(F.broadcast(sampled), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "p_temp",
            "sample_rate",
            F.coalesce("sampled_n", F.lit(0).cast("long")).alias("sampled_n"),
        )
    )


def temperature_mixture_oracle() -> str:
    from hbasewd_spark.operators.sampling import _SPACE, sql_sample_bucket

    bucket = sql_sample_bucket("doc_id", "duckdb")
    return f"""
    WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    total AS (
      -- floor-quantized integer sum (tie-free), matching the Spark plan;
      -- CAST on the sum: DuckDB sum(BIGINT) is HUGEINT otherwise
      SELECT CAST(CAST(sum(CAST(floor(sqrt(CAST(n_docs AS DOUBLE))
                                      * {_WQUANT}.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS DOUBLE) / {_WQUANT}.0 AS s_w
      FROM counts
    ),
    rates AS (
      SELECT lang, n_docs,
             sqrt(CAST(n_docs AS DOUBLE)) / s_w AS p_temp,
             least(1.0, {TEMP_BUDGET} * (sqrt(CAST(n_docs AS DOUBLE)) / s_w)
                          / CAST(n_docs AS DOUBLE)) AS sample_rate
      FROM counts, total
    ),
    kept AS (
      SELECT d.lang FROM documents d JOIN rates r USING (lang)
      WHERE {bucket} < CAST(round(r.sample_rate * {_SPACE}) AS BIGINT)
    )
    SELECT r.lang, r.n_docs, r.p_temp, r.sample_rate,
           CAST(coalesce(k.n, 0) AS BIGINT) AS sampled_n
    FROM rates r
    LEFT JOIN (SELECT lang, count(*) AS n FROM kept GROUP BY lang) k USING (lang)
    """


# ---------------------------------------------------------------------------
# quality-threshold calibration (per-group percentile cutoffs)
# ---------------------------------------------------------------------------

KEEP_RATE = 0.8  # target keep fraction per language


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality cutoffs hitting a target keep rate: the
    calibration step before a quality filter — a single global
    threshold over-filters whichever language scores systematically
    lower, so production pipelines pick cutoffs per group.

    cutoff = percentile_disc(1 - KEEP_RATE) of the quality score
    within each language (DISCRETE percentile: picks an actual data
    element, so the double is bit-identical cross-engine — the
    rel_exact_stats rationale), then counts the docs that survive.

    At 100 TB: one pass computes the slim (lang, quality) relation —
    the text column never shuffles; percentile_disc is a per-group
    sort-based agg over doubles; the cutoffs relation is O(#languages)
    and broadcasts back for the keep count. Two passes over the text
    (score is recomputed for the count join) trade a full
    materialization for pure scan CPU — at scale you'd persist the
    score column instead; both shapes shuffle only (lang, double)."""
    from hbasewd_spark.functions.text import quality_score

    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # r12 optimization — the docstring's "at scale you'd persist the
    # score column instead" shape, realized: qd is referenced by both
    # the percentile aggregate and the survivor count, so the
    # regex-heavy quality_score used to run over the full text twice.
    # The slim (lang, double) relation checkpoints once; both
    # consumers re-read 16-byte rows instead of re-scoring text
    # (without it: 3.46 s instead of 1.55 s at sf1, 4 cores).
    qd = docs.select(
        "lang", quality_score("text").alias("quality")
    ).localCheckpoint(eager=False)
    qd.createOrReplaceTempView("qcal_qd")
    cuts = spark.sql(
        f"""
        SELECT lang, count(*) AS n_docs,
               percentile_disc({1 - KEEP_RATE:.2f}) WITHIN GROUP (ORDER BY quality)
                 AS cutoff
        FROM qcal_qd GROUP BY lang
        """
    )
    return (
        qd.join(F.broadcast(cuts), "lang")
        .where(F.col("quality") >= F.col("cutoff"))
        .groupBy("lang", "n_docs", "cutoff")
        .agg(F.count("*").alias("n_keep"))
        .select("lang", "n_docs", "cutoff", "n_keep")
    )


def quality_calibration_oracle() -> str:
    from hbasewd_spark.functions.text import sql_quality_score

    qs = sql_quality_score("text", "duckdb")
    return f"""
    WITH qd AS (SELECT lang, {qs} AS quality FROM documents),
    cuts AS (
      SELECT lang, count(*) AS n_docs,
             percentile_disc({1 - KEEP_RATE:.2f}) WITHIN GROUP (ORDER BY quality)
               AS cutoff
      FROM qd GROUP BY lang
    )
    SELECT q.lang AS lang, c.n_docs AS n_docs, c.cutoff AS cutoff,
           count(*) AS n_keep
    FROM qd q JOIN cuts c ON q.lang = c.lang
    WHERE q.quality >= c.cutoff
    GROUP BY q.lang, c.n_docs, c.cutoff
    """


# ---------------------------------------------------------------------------
# repeated-passage scrub (the rewrite twin of passage_dedup)
# ---------------------------------------------------------------------------


def passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_kept, scrubbed_chars, scrubbed_md5) — the REWRITE
    twin of :func:`passage_dedup`: where that operator profiles
    duplication, this one produces the cleaned corpus — every document
    reassembled from only its first-occurrence segments (corpus-global
    md5-fingerprint resolution, same min-agg skew-immune first-pick).
    A document whose every segment occurred earlier vanishes entirely,
    which is the intended semantic (it contributes nothing new).

    The output carries the reassembled text's length and md5 rather
    than the text itself so the attestation hash stays compact; the
    text column is one ``array_join`` away (drop the md5/length
    projection in a pipeline use).

    At 100 TB: segment TEXT never rides a shuffle at all. Every
    shuffle in first-occurrence resolution and keep-set reduction
    carries only the slim (fp, seg_key, doc_id, seg_idx) projection;
    the rewrite itself is a PER-ROW array rebuild — each surviving
    document joins its sorted keep-set (one shuffle_hash join of
    token arrays against a slim per-doc relation, both SF-sized so
    never broadcast) and re-slices its own token array in place. The
    earlier form exploded seg_text into rows and paid two full-text
    shuffles (fp join + per-doc reassembly) — locally that's a 1.2x
    win at sf10 (17.9 -> 14.5s; segmentation md5 CPU dominates on one
    box), but the shuffle-volume reduction is the part that compounds
    on a cluster where shuffled bytes hit network + disk. Reassembly
    order is the sorted keep-set, not a window — no single-partition
    sort anywhere."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    # r12 optimization (guide §3.3), mirroring passage_dedup's fix: the
    # slim segment relation feeds the first-occurrence aggregate AND
    # the keep-set join, so the tokenize+md5 segmentation generator ran
    # twice (two Generate subtrees in the before-plan). Pin the slim
    # (doc_id, seg_key, seg_idx, fp) projection once — segment text
    # still never materializes anywhere (without it: 3.00 s instead of
    # 1.86 s at sf1, 4 cores).
    slim = _segments(docs, with_text=False).localCheckpoint(eager=False)
    firsts = slim.groupBy("fp").agg(F.min("seg_key").alias("first_key"))
    keep_sets = (
        slim.join(firsts, "fp")
        .where(F.col("seg_key") == F.col("first_key"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("seg_idx")).alias("keep"))
    )
    base = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") > 0
    )
    seg_of = lambda i: F.array_join(  # noqa: E731 — mirrors _segments
        F.slice("toks", i * SEG_TOKENS + 1, SEG_TOKENS), " "
    )
    return (
        base.join(keep_sets.hint("shuffle_hash"), "doc_id")
        .select(
            "doc_id",
            F.size("keep").alias("n_kept"),
            F.array_join(F.transform("keep", seg_of), " ").alias("scrubbed"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.length("scrubbed").alias("scrubbed_chars"),
            F.md5("scrubbed").alias("scrubbed_md5"),
        )
    )


def passage_scrub_oracle() -> str:
    return f"""
    WITH {_sql_segs(with_text=True)},
    firsts AS (SELECT fp, min(seg_key) AS first_key FROM segs GROUP BY fp),
    kept AS (
      SELECT s.doc_id, s.seg_idx, s.seg_text
      FROM segs s JOIN firsts f ON s.fp = f.fp
      WHERE s.seg_key = f.first_key
    ),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(seg_text, ' ' ORDER BY seg_idx) AS scrubbed
      FROM kept GROUP BY doc_id
    )
    SELECT doc_id, n_kept, CAST(length(scrubbed) AS INTEGER) AS scrubbed_chars,
           md5(scrubbed) AS scrubbed_md5
    FROM rebuilt
    """
