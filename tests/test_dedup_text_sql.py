"""Every text, MinHash and SimHash expression is built from one Spark
SQL text: the plans equal the Column-API builders they replaced (same
optimized plan, same rows), every ``sql_*(..., "spark")`` text computes
what its engine function computes, the feature and band frame and the
SimHash frame each build in a few dozen py4j commands, and the index
build spreads the signature pass over every core."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Column, functions as F

from hbasewd_spark.functions import text as TX
from hbasewd_spark.operators import dedup as DD
from hbasewd_spark.operators.minhash_index import build_minhash_index
from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

# ---------------------------------------------------------------------------
# the Column-API builders the SQL texts replaced, kept here as references
# ---------------------------------------------------------------------------


def col_tokens(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def col_token_count(c: Column) -> Column:
    return F.size(col_tokens(c))


def col_bpe_ish_token_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def col_alpha_ratio(c: Column) -> Column:
    n_alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    return F.when(F.length(c) > 0, n_alpha.cast("double") / F.length(c).cast("double")).otherwise(F.lit(0.0))


def col_marker_count(c: Column, words: list[str]) -> Column:
    return F.regexp_count(F.lower(c), F.lit(r"\b(" + "|".join(words) + r")\b"))


def col_lang_id(c: Column) -> Column:
    scored = [(lang, col_marker_count(c, ws)) for lang, ws in sorted(TX.LANG_MARKERS.items())]
    best_score = F.greatest(*[s for _, s in scored])
    out = F.lit("und")
    for lang, s in reversed(scored):
        out = F.when(s == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score > 0, out).otherwise(F.lit("und"))


def col_quality_score(c: Column) -> Column:
    ntok = col_token_count(c).cast("double")
    len_term = F.least(F.lit(1.0), ntok / F.lit(100.0))
    a_ratio = col_alpha_ratio(c)
    n_alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    mean_wl10 = F.when(ntok > 0, n_alpha * F.lit(10.0) / ntok).otherwise(F.lit(0.0))
    wl_ok = F.when((mean_wl10 >= 5.0) & (mean_wl10 <= 120.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.lit(0.4) * len_term + F.lit(0.4) * a_ratio + F.lit(0.2) * wl_ok


def col_fingerprint(c: Column) -> Column:
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    cps = F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("bigint"))
    acc0 = F.struct(F.lit(7).cast("bigint").alias("a"), F.lit(7).cast("bigint").alias("b"))
    return F.aggregate(
        cps,
        acc0,
        lambda acc, cp: F.struct(
            ((acc["a"] * 31 + cp) % TX.FNV_MOD).alias("a"),
            ((acc["b"] * 31 + cp) % TX.FNV_MOD2).alias("b"),
        ),
        lambda acc: acc["a"] * TX.FNV_MOD2 + acc["b"],
    )


def col_shingles(toks: Column) -> Column:
    k = DD.SHINGLE_K
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), (n - (k - 1)).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)])
        )
    )


def col_md5_long(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def col_minhash_min(hs: Column, j: int) -> Column:
    a, b = DD.MH_A[j], DD.MH_B[j]
    return F.coalesce(
        F.array_min(F.transform(hs, lambda x: (F.lit(a) * x + F.lit(b)) % DD.MH_PRIME)), F.lit(DD.MH_PRIME)
    )


def col_features_of_docs(docs):
    tk = docs.select("doc_id", col_tokens(F.col("text")).alias("toks"))
    sh = tk.select("doc_id", col_shingles(F.col("toks")).alias("sh"))
    hs = sh.select("doc_id", F.transform("sh", col_md5_long).alias("hs"))
    return hs.select("doc_id", "hs", *[col_minhash_min(F.col("hs"), j).alias(f"mh{j}") for j in range(DD.MH_PERMS)])


def col_bands_of(sig):
    band_hashes = [
        col_md5_long(
            F.concat_ws("_", *[F.col(f"mh{j}").cast("string") for j in range(b * DD.MH_ROWS, (b + 1) * DD.MH_ROWS)])
        )
        for b in range(DD.MH_BANDS)
    ]
    return sig.select("doc_id", F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"))


def col_simhash_df(spark, sf_dir):
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark)
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    tok = tok.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(DD.SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(DD.SIMHASH_BITS):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.alias("simhash"))


# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _same_plan_same_rows(new, old):
    assert _optimized(new).sameResult(_optimized(old)), (
        _optimized(new).toString(),
        _optimized(old).toString(),
    )
    assert sorted(new.collect()) == sorted(old.collect())


ENGINE_FUNCTIONS = {
    "tokens": (TX.tokens, col_tokens),
    "token_count": (TX.token_count, col_token_count),
    "bpe_ish_token_count": (TX.bpe_ish_token_count, col_bpe_ish_token_count),
    "alpha_ratio": (TX.alpha_ratio, col_alpha_ratio),
    "quality_score": (TX.quality_score, col_quality_score),
    "lang_id": (TX.lang_id, col_lang_id),
    "fingerprint": (TX.fingerprint, col_fingerprint),
}


@pytest.mark.parametrize("name", sorted(ENGINE_FUNCTIONS))
def test_text_function_keeps_the_column_plan(docs, name):
    fn, reference = ENGINE_FUNCTIONS[name]
    _same_plan_same_rows(
        docs.select("doc_id", fn("text").alias("v")),
        docs.select("doc_id", reference(F.col("text")).alias("v")),
    )


def test_minhash_features_and_bands_keep_the_column_plan(spark, docs):
    wide = ensure_min_parallelism(docs, spark)
    _same_plan_same_rows(DD.features_of_docs(wide), col_features_of_docs(wide))
    _same_plan_same_rows(DD._bands_of(DD.features_of_docs(wide)), col_bands_of(col_features_of_docs(wide)))


def test_simhash_keeps_the_column_plan(spark, sf_dir):
    _same_plan_same_rows(DD.simhash_df(spark, sf_dir), col_simhash_df(spark, sf_dir))


@pytest.mark.parametrize("name", ["doc text", "full-text", "a.b", "select", "we`ird"])
def test_text_functions_take_any_column_name(docs, name):
    """A column name is an identifier, not SQL: spaces, hyphens, dots,
    reserved words and backticks all name the column itself."""
    fns = sorted(ENGINE_FUNCTIONS.items())
    renamed = docs.withColumnRenamed("text", name)
    got = renamed.select("doc_id", *(fn(name).alias(k) for k, (fn, _) in fns))
    want = docs.select("doc_id", *(fn("text").alias(k) for k, (fn, _) in fns))
    assert sorted(got.collect()) == sorted(want.collect())


def _spark_texts():
    """(name, Spark SQL text, reference Column) for every ``sql_*``
    builder that has a Spark dialect."""
    t = F.col("text")
    out = [
        ("sql_tokens", TX.sql_tokens("text", "spark"), col_tokens(t)),
        ("sql_token_count", TX.sql_token_count("text", "spark"), col_token_count(t)),
        ("sql_bpe_ish_token_count", TX.sql_bpe_ish_token_count("text", "spark"), col_bpe_ish_token_count(t)),
        ("sql_alpha_ratio", TX.sql_alpha_ratio("text", "spark"), col_alpha_ratio(t)),
        ("sql_lang_id", TX.sql_lang_id("text", "spark"), col_lang_id(t)),
        ("sql_quality_score", TX.sql_quality_score("text", "spark"), col_quality_score(t)),
        ("sql_fingerprint", TX.sql_fingerprint("text", "spark"), col_fingerprint(t)),
        ("sql_scrub_pii", TX.sql_scrub_pii("text", "spark"), TX.scrub_pii(t)),
    ]
    for lang, words in sorted(TX.LANG_MARKERS.items()):
        out.append((f"sql_marker_count[{lang}]", TX.sql_marker_count("text", words, "spark"), col_marker_count(t, words)))
    for i, (text, col) in enumerate(zip(TX.sql_pii_counts("text", "spark"), TX.pii_counts(t))):
        out.append((f"sql_pii_counts[{i}]", text, col))
    return out


def test_spark_sql_texts_match_the_engine_functions(docs):
    """Row for row on the documents fixture, each Spark text against
    the Column form of the same function. A raw ``\\b`` inside a Spark
    string literal is read as a backspace, so a marker pattern written
    that way matches nothing: ``sql_lang_id`` then disagrees on most
    documents."""
    texts = _spark_texts()
    got = docs.selectExpr("doc_id", *(f"{text} AS v{i}" for i, (_, text, _) in enumerate(texts)))
    want = docs.select("doc_id", *(col.alias(f"v{i}") for i, (_, _, col) in enumerate(texts)))
    got_rows = sorted(got.collect())
    want_rows = sorted(want.collect())
    assert len(got_rows) == len(want_rows) > 0
    for i, (name, _, _) in enumerate(texts):
        bad = [g.doc_id for g, w in zip(got_rows, want_rows) if g[i + 1] != w[i + 1]]
        assert not bad, f"{name} differs on {len(bad)} docs, e.g. {bad[:5]}"
    # the patterns really match: English markers fire on some document
    en = [name for name, _, _ in texts].index("sql_marker_count[en]")
    assert any(g[en + 1] for g in got_rows)


def test_spark_marker_pattern_counts_words(spark):
    text = TX.sql_marker_count("'the cat and the dog'", TX.LANG_MARKERS["en"], "spark")
    assert spark.sql(f"SELECT {text} AS n").first().n == 3


def _py4j_commands(spark, fn) -> int:
    """Commands fn sends to the JVM from the calling thread. Proxy
    releases are sent by py4j's finalizer thread whenever it drains its
    queue, so they are not counted (whether earlier work's releases
    land inside fn is a matter of timing)."""
    client = spark._jvm._gateway_client
    real = client.send_command
    caller = threading.get_ident()
    sent = []

    def counting(command, *a, **kw):
        if threading.get_ident() == caller:
            sent.append(command)
        return real(command, *a, **kw)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return len(sent)


def test_feature_and_band_build_is_a_few_dozen_py4j_commands(spark, sf_dir):
    DD._bands_of(DD.features_of_docs(load_table(spark, sf_dir, "documents")))  # warm class lookups
    fresh = load_table(spark, sf_dir, "documents")
    n = _py4j_commands(spark, lambda: DD._bands_of(DD.features_of_docs(fresh)))
    assert n <= 60, n


def test_simhash_build_is_a_few_dozen_py4j_commands(spark, sf_dir):
    # the Column builder sent 5,212: one command per node of its 32
    # when-sums and 32-term fold
    DD.simhash_df(spark, sf_dir)  # warm class lookups
    n = _py4j_commands(spark, lambda: DD.simhash_df(spark, sf_dir))
    assert n <= 60, n


def _stage_tasks_under_group(spark, group, fn):
    """(job id, [numTasks of each of its stages]) for every Spark job
    fn ran, read from the status tracker under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return [
        (j, [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds])
        for j in sorted(st.getJobIdsForGroup(group))
    ]


def test_index_build_computes_signatures_on_every_core(spark, sf_dir, tmp_path):
    """A one-file corpus is one scan task; the signature pass must not
    be. The build's last job counts the persisted features, so its
    stage over them has one task per features partition, which is one
    task per slice of the signature pass."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert corpus.rdd.getNumPartitions() == 1
    jobs = _stage_tasks_under_group(
        spark, "index-build-parallelism", lambda: build_minhash_index(spark, corpus, str(tmp_path / "idx"))
    )
    want = min(spark.sparkContext.defaultParallelism, 32)
    assert jobs and max(jobs[-1][1]) >= want, jobs
