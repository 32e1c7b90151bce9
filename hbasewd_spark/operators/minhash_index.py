"""Persistent MinHash/LSH index: dedup a NEW batch against an existing
corpus without recomputing the corpus.

The batch dedup operators (operators/dedup.py) recompute shingles and
signatures for the whole corpus every run — correct for one-shot
jobs, untenable for a 100-TB corpus ingesting daily increments. This
module persists the two relations LSH actually joins on:

- ``<path>/bands``  — (doc_id, band_hash) partitioned by ``band``
  (one Hive dir per LSH band), sorted by ``band_hash`` within each
  partition so parquet row-group stats prune probe scans.
- ``<path>/hsets``  — (doc_id, hset): the deduped 32-bit shingle-hash
  array per doc, for exact-Jaccard verification of candidates.

Probe shape (the scale contract): the new batch is small relative to
the corpus, so BOTH probe joins broadcast the batch side — the index
relations stream through map-side joins and are never shuffled. Total
incremental cost is one scan of the band index (pruned by band-hash
row-group stats) + one semi-scan of hsets for candidate corpus docs,
independent of corpus signature recompute cost. Equivalence with the
full recompute is pinned by tests/test_minhash_index.py.

Reference parity note: this is the engine's text-side analogue of the
IVF embedding index (similarity.py) — the same persist-the-buckets
mechanism the salt layout uses for keys (README:37-40 bucket
pre-materialization), applied to LSH bands.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    MH_BANDS,
    _bands_of,
    features_of_docs,
    scratch_dir,
    verify_jaccard,
)

INDEX_META = "_minhash_index.json"


def write_index_relations(
    feats: DataFrame, bands_dir: str, hsets_dir: str, mode: str
) -> None:
    """THE on-disk index contract, in one place: bands repartitioned on
    ``band`` (one write task per band here — at scale repartition on
    (band, bucket(band_hash)) to keep files ~256 MB) and sorted by
    band_hash so parquet row-group stats prune probes; hsets as the
    deduped hash-array projection. Every writer (build, append,
    streaming epoch partitions) goes through here so the layout cannot
    fork."""
    (
        _bands_of(feats)
        .repartition("band")
        .sortWithinPartitions("band_hash")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(bands_dir)
    )
    (
        feats.select("doc_id", F.array_distinct("hs").alias("hset"))
        .write.mode(mode)
        .parquet(hsets_dir)
    )


def build_minhash_index(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Materialize the LSH index for a (doc_id, text) corpus at
    ``path``: one corpus pass computes features, written via
    :func:`write_index_relations`."""
    feats = features_of_docs(docs).persist()
    try:
        write_index_relations(feats, f"{path}/bands", f"{path}/hsets", "overwrite")
        n_docs = feats.count()
    finally:
        feats.unpersist()
    fs = Fs(spark, path)
    meta = {
        "n_docs": n_docs,
        "bands": MH_BANDS,
        "doc_id_type": feats.schema["doc_id"].dataType.simpleString(),
        "format": 2,
    }
    fs.write_text(f"{path}/{INDEX_META}", json.dumps(meta))


def _index_meta(spark: SparkSession, path: str) -> dict:
    return json.loads(Fs(spark, path).read_text(f"{path}/{INDEX_META}"))


def index_doc_count(spark: SparkSession, path: str) -> int:
    return int(_index_meta(spark, path)["n_docs"])


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    exclude_self: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW (doc_id, text) batch and the
    indexed corpus: (new_doc_id, corpus_doc_id, jaccard), the decision
    relation an incremental ingest filters its batch with.

    The batch side is broadcast in both joins (candidates and
    verification), so the index is map-side-joined in place — no
    corpus shuffle, no corpus recompute. ``exclude_self=True`` drops
    same-id pairs — correct when batch and corpus id spaces are
    disjoint by construction; an ADMISSION gate must pass False, or an
    at-least-once redelivery of an already-admitted (id, text) would
    mask its own jaccard=1.0 collision and re-enter the corpus.

    The index relations are read with the schema the metadata records
    (a parquet schema inference is a Spark job), so building the
    result runs none."""
    t = _index_meta(spark, path)["doc_id_type"]
    return probe_index(
        spark,
        new_docs,
        spark.read.schema(f"doc_id {t}, band_hash bigint, band int").parquet(f"{path}/bands"),
        spark.read.schema(f"doc_id {t}, hset array<bigint>").parquet(f"{path}/hsets"),
        jaccard_threshold,
        exclude_self=exclude_self,
    )


def probe_index(
    spark: SparkSession,
    new_docs: DataFrame,
    idx_bands: DataFrame,
    idx_sets: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    exclude_self: bool = True,
    new_feats: DataFrame | None = None,
) -> DataFrame:
    """:func:`dedup_against_index` over explicit index relations — the
    seam for callers that assemble the index view themselves (e.g. the
    streaming ingest reading only PRIOR epochs' index partitions).
    Extra columns on the index relations (epoch, band partitions) ride
    along harmlessly; only (doc_id, band, band_hash) / (doc_id, hset)
    are consumed. Pass ``new_feats`` (the :func:`features_of_docs`
    frame for ``new_docs``) to reuse features the caller also needs
    elsewhere — the signature pipeline is the dominant batch-side cost
    and must not run twice per epoch.

    The batch features are read once: each band row carries its doc's
    hash set through the candidate join, so verification needs no
    second read of the batch, nothing is materialized, and building the
    probe runs no Spark job."""
    feats = features_of_docs(new_docs) if new_feats is None else new_feats
    new_bands = _bands_of(feats, "array_distinct(hs) AS hs_n").select(
        F.col("doc_id").alias("new_doc_id"), "hs_n", "band", "band_hash"
    )
    cand = idx_bands.join(F.broadcast(new_bands), ["band", "band_hash"])
    if exclude_self:
        cand = cand.where(F.col("doc_id") != F.col("new_doc_id"))
    # one row per (batch doc, corpus doc): hs_n is a function of the
    # batch doc, so which duplicate survives does not matter
    cand = cand.select(
        "new_doc_id", F.col("doc_id").alias("corpus_doc_id"), "hs_n"
    ).dropDuplicates(["new_doc_id", "corpus_doc_id"])
    idx_sets = idx_sets.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("hset").alias("hs_c")
    )
    # candidates are tiny (LSH-selected): broadcast them onto the big
    # hsets relation
    return verify_jaccard(
        idx_sets.join(F.broadcast(cand), "corpus_doc_id"),
        "new_doc_id",
        "corpus_doc_id",
        "hs_n",
        "hs_c",
        jaccard_threshold,
    ).select("new_doc_id", "corpus_doc_id", "jaccard")


def append_to_index(spark: SparkSession, new_docs: DataFrame, path: str) -> None:
    """Admit a (deduplicated) batch into the index: append its bands
    and hsets. Appends are partition-local parquet file adds — no
    rewrite of existing index files (the salted-table append
    contract)."""
    feats = features_of_docs(new_docs).persist()
    try:
        write_index_relations(feats, f"{path}/bands", f"{path}/hsets", "append")
        n_new = feats.count()
    finally:
        feats.unpersist()
    meta = _index_meta(spark, path)
    meta["n_docs"] = int(meta["n_docs"]) + n_new
    Fs(spark, path).write_text(f"{path}/{INDEX_META}", json.dumps(meta))


# ---------------------------------------------------------------------------
# registry query: incremental dedup of a batch split against the index
# ---------------------------------------------------------------------------

INC_BATCH_MOD = 10  # doc_id % 10 == 0 plays the "daily increment"


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable end-to-end exercise of the persisted index:
    split documents into corpus (doc_id % 10 != 0) and batch
    (doc_id % 10 == 0), build the index from the corpus, probe the
    batch — (new_doc_id, corpus_doc_id, jaccard) near-dup pairs the
    ingest would hold back. The natural near-dups across the split
    make the result non-trivial without synthetic perturbation."""
    from hbasewd_spark.sources.loaders import load_table

    # features_of_docs spreads each side over the cores itself
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.pmod("doc_id", F.lit(INC_BATCH_MOD)) != 0)
    batch = docs.where(F.pmod("doc_id", F.lit(INC_BATCH_MOD)) == 0)
    path = scratch_dir(spark, "hbasewd_mhidx", sf_dir)
    build_minhash_index(spark, corpus, path)
    return dedup_against_index(spark, batch, path)


def incremental_dedup_oracle() -> str:
    """Full-recompute SQL twin restricted to (batch x corpus) pairs —
    by construction this equals the index probe exactly."""
    from hbasewd_spark.functions.codec import sql_md5_long
    from hbasewd_spark.functions.text import sql_tokens
    from hbasewd_spark.operators.dedup import (
        sql_minhash_band_hash,
        sql_shingles_over_toks,
    )

    toks = sql_tokens("text", "duckdb")
    shing = sql_shingles_over_toks("duckdb")
    shingle_hash = sql_md5_long("s", "duckdb")
    band_hashes = ", ".join(
        f"{sql_minhash_band_hash('duckdb', b)} AS bh{b}" for b in range(MH_BANDS)
    )
    bh_unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bh{b} AS band_hash FROM sigs"
        for b in range(MH_BANDS)
    )
    m = INC_BATCH_MOD
    return f"""
    WITH tk AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (SELECT doc_id, {shing} AS sh FROM tk),
    hsrel AS (SELECT doc_id, list_transform(sh, s -> {shingle_hash}) AS hs FROM sh),
    hsets AS (SELECT doc_id, list_distinct(hs) AS hset FROM hsrel),
    sigs AS (SELECT doc_id, {band_hashes} FROM hsrel),
    bands AS ({bh_unpivot}),
    cand AS (
      SELECT DISTINCT b.doc_id AS new_doc_id, a.doc_id AS corpus_doc_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id % {m} != 0 AND b.doc_id % {m} = 0
        AND a.doc_id != b.doc_id
    ),
    verified AS (
      SELECT new_doc_id, corpus_doc_id,
             len(list_intersect(sn.hset, sc.hset)) AS n_inter,
             len(sn.hset) + len(sc.hset) - len(list_intersect(sn.hset, sc.hset)) AS n_union
      FROM cand
      JOIN hsets sn ON sn.doc_id = new_doc_id
      JOIN hsets sc ON sc.doc_id = corpus_doc_id
    )
    SELECT new_doc_id, corpus_doc_id,
           CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                ELSE 0.0 END AS jaccard
    FROM verified
    WHERE (CASE WHEN n_union > 0 THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                ELSE 0.0 END) >= {JACCARD_THRESHOLD}
    """
