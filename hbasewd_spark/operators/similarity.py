"""Similarity search over embedding columns (north-star extension).

Two paths, mirroring how you'd serve ANN at 100 TB:

- **brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set against the corpus, fold the dot product inside
  codegen (``transform``+``aggregate`` over the array column — no
  Python), windowed top-k. Scales linearly in corpus size and is the
  right answer whenever the query set is small enough to broadcast.
- **IVF (inverted-file) top-k** — the scale path: partition the corpus
  into Voronoi cells around seed centroids, probe only the closest
  ``NPROBE`` cells per query, exact re-rank inside probed cells. Here
  the centroid set is a deterministic corpus sample (lowest vec_ids)
  so the DuckDB oracle can replay the identical plan bit-for-bit; a
  production deployment would k-means the sample and persist centroids
  as table metadata (same mechanism as the distributor spec, O11).
- **embedding near-dup pairs** — brute cosine >= τ self-join over a
  blocked candidate space; the LSH-bucketed variant (signed random
  projections) is exercised in tests/test_extensions.py.

All float math folds arrays element-by-element in a fixed order after
an exact float→double widening, so Spark and DuckDB produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hbasewd_spark.sources.loaders import ensure_min_parallelism, load_table

DIM = 64
TOPK = 5
N_QUERIES = 10
N_CENTROIDS = 16
NPROBE = 4


def _dvec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of the elementwise product — identical
    summation order on both engines."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_staged(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the two norms STAGED as columns (r12): the
    expression tree is identical — dot / (norm_a * norm_b), same IEEE
    order — but each side's norm fold is computed once per ROW before
    a join fans it out, instead of once per PAIR. For 64-dim vectors
    that removes 2/3 of the per-pair fold work in every cross/equi
    join scorer below."""
    return _dot(a, b) / (na * nb)


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`_dot` (same fold order).

    ``list_reduce(list_prepend(0.0, prods), +)`` folds left-to-right
    from the 0.0 seed, exactly like Spark's ``aggregate``."""
    prods = f"list_transform(generate_series(1, {DIM}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {prods}), (acc, x) -> acc + x)"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: query vectors (vec_id < N_QUERIES) vs the
    whole corpus. Query side broadcast -> no shuffle of the corpus;
    the top-k window shuffles only (corpus_rows × N_QUERIES) slim rows."""
    from pyspark.sql import Window

    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    scored = (
        _corpus(emb).crossJoin(F.broadcast(_queries(emb)))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos_staged(
                F.col("q"), F.col("v"), F.col("nq"), F.col("nv")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


def brute_topk_oracle() -> str:
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {cos} AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= {TOPK}
    """


def _corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nv): every vector widened to double, norm staged."""
    return emb.select("vec_id", _dvec("embedding").alias("v")).select(
        "vec_id", "v", _norm(F.col("v")).alias("nv")
    )


def _queries(emb: DataFrame) -> DataFrame:
    """(query_id, q, nq): the query vectors (vec_id < N_QUERIES)."""
    return (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _dvec("embedding").alias("q"))
        .select("query_id", "q", _norm(F.col("q")).alias("nq"))
    )


def _seed_cents(emb: DataFrame) -> DataFrame:
    """(cent_id, cv): the deterministic seed centroids (lowest vec_ids)."""
    return emb.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), _dvec("embedding").alias("cv")
    )


def _nearest_cells(points: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """``points`` (id, vector, norm — the first three columns) plus
    ``cell``: one row for each of a point's ``n`` nearest centroids by
    cosine (ties -> lower cent_id), against a broadcast centroid
    relation (cent_id, cv). ``n=1`` is the IVF cell assignment,
    ``n=NPROBE`` the probe."""
    from pyspark.sql import Window

    pid, vec, norm = points.columns[:3]
    cents = cents.select("cent_id", "cv", _norm(F.col("cv")).alias("ncv"))
    scored = points.crossJoin(F.broadcast(cents)).select(
        *points.columns,
        "cent_id",
        _cos_staged(F.col(vec), F.col("cv"), F.col(norm), F.col("ncv")).alias("sim"),
    )
    w = Window.partitionBy(pid).orderBy(F.col("sim").desc(), F.col("cent_id").asc())
    rk = F.col("rk")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        # an argmin filters rk = 1, the plan it has always had
        .where(rk == 1 if n == 1 else rk <= n)
        .select(*points.columns, F.col("cent_id").alias("cell"))
    )


def _ivf_rerank(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact cosine re-rank over the probed cells only. ``assigned``
    may come without its staged norms: the persisted index carries
    none (its on-disk layout is unchanged by the r12 norm staging)."""
    from pyspark.sql import Window

    if "nv" not in assigned.columns:
        assigned = assigned.select("*", _norm(F.col("v")).alias("nv"))
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos_staged(
                F.col("q"), F.col("v"), F.col("nq"), F.col("nv")
            ).alias("cos_sim"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign corpus vectors to the nearest of N_CENTROIDS
    seed centroids (deterministic sample: lowest vec_ids), probe the
    NPROBE nearest cells per query, exact cosine re-rank within probed
    cells. At 100 TB the assignment is a broadcast join + argmin (one
    scan), the probe prunes ~(1 - NPROBE/N_CENTROIDS) of the corpus,
    and cells are the partition key so a probe touches few partitions.

    This is the persisted-index path (:func:`build_ivf_index` +
    :func:`ivf_probe_indexed`, plan-asserted in tests) with the seed
    centroids in memory: the same assignment, probe and re-rank, with
    nothing written; the two return identical results."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = ensure_min_parallelism(emb, spark)
    return _ivf_rerank(
        _nearest_cells(_corpus(corpus), _seed_cents(corpus), 1),
        _nearest_cells(_queries(emb), _seed_cents(emb), NPROBE),
    )


def build_ivf_index(
    spark: SparkSession, sf_dir: str, path: str, train: bool = False
) -> None:
    """Persist the IVF index with the CELL as the physical partition
    key — the disk layout behind the scale claim: a probe of NPROBE
    cells reads NPROBE partition directories and skips the rest at
    PLAN time (static partition pruning), the same mechanism as the
    salt. One shuffle (repartition by cell) sizes one file per cell.

    ``train=True`` replaces the deterministic seed centroids with
    spherical-k-means-trained ones (:func:`train_ivf_centroids`) —
    the production path: trained cells are balanced Voronoi regions,
    so probe recall at a given NPROBE is higher (recall >= 0.9 at
    NPROBE=4 asserted in tests). Whichever centroids are used, they
    persist INSIDE the index dir (O11-style metadata) so probes always
    run against the exact centroids the cells were built from."""
    import json as _json

    from hbasewd_spark.fsutil import Fs

    if train:
        cents = train_ivf_centroids(spark, sf_dir)
    else:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = sorted(
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.where(F.col("vec_id") < N_CENTROIDS).collect()
        )
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    assigned = _nearest_cells(_corpus(emb), _cents_df(spark, cents), 1)
    (
        assigned.select("vec_id", "v", "cell")
        .repartition(N_CENTROIDS, F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    Fs(spark, path).write_text(
        path.rstrip("/") + "/" + IVF_CENTROIDS_FILE, _json.dumps(cents)
    )


def ivf_probe_indexed(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Probe the persisted index: the probed cell ids collect to a tiny
    IN-list (≤ N_QUERIES × NPROBE values), so the index scan carries a
    static partition filter — untouched cells are never planned, let
    alone read. Probes run against the index's PERSISTED centroids
    (seed or trained — whatever the index was built from); with seed
    centroids the results are identical to the in-memory ivf_topk."""
    import json as _json

    from hbasewd_spark.fsutil import Fs

    cents = _cents_df(
        spark,
        _json.loads(
            Fs(spark, path).read_text(path.rstrip("/") + "/" + IVF_CENTROIDS_FILE)
        ),
    )
    probes = _nearest_cells(_queries(load_table(spark, sf_dir, "embeddings")), cents, NPROBE)
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    assigned = spark.read.parquet(path).where(F.col("cell").isin(cells))
    return _ivf_rerank(assigned, probes)


IVF_CENTROIDS_FILE = "_ivf_centroids.json"


def _cents_df(spark: SparkSession, cents: list) -> DataFrame:
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(cent_id=int(cid), cv=[float(x) for x in v]) for cid, v in cents]
    )


def train_ivf_centroids(
    spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS, iters: int = 1
) -> list:
    """Spherical-k-means-trained centroids for the IVF index: assign by
    cosine argmin (the same metric the probe uses), update as the
    per-dimension mean (cosine is scale-invariant, so the unnormalized
    mean is a valid spherical centroid direction). Seeds are the
    deterministic lowest-vec_id sample. Returns [(cent_id, [floats])].

    At 100 TB you train on a corpus sample (the assignment join is
    broadcast-sized either way); the trained centroids then persist
    WITH the index via the O11 metadata mechanism
    (:data:`IVF_CENTROIDS_FILE`) so probes always use the exact
    centroids the cells were built from.

    ``iters`` default is deliberately small: the synthetic fixture's
    embeddings are near-random (no real cluster structure), so extra
    Lloyd rounds trade recall noise within ±0.04 of the ~0.9 that
    NPROBE/N_CENTROIDS buys geometrically (measured iters 1-6 at
    sf0.001/sf0.01). Corpora with genuine cluster structure benefit
    from more rounds — the parameter is the tuning knob."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = _corpus(emb)
    cents = (
        emb.where(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cent_id"), _dvec("embedding").alias("cv"))
    )
    for _ in range(iters):
        assigned = _nearest_cells(corpus, cents, 1)
        cents = _dim_means(
            assigned.withColumnRenamed("cell", "cent_id"), "cent_id", "v", F.avg("x")
        ).localCheckpoint(eager=False)
    return sorted((r.cent_id, list(r.cv)) for r in cents.collect())


def _dim_means(vecs: DataFrame, key: str, vec, mean: Column) -> DataFrame:
    """(key, cv): per ``key``, the mean of the ``vec`` arrays taken
    one dimension at a time — ``mean`` aggregates a dimension's values
    ``x`` — and collected back to a dimension-ordered array. A slim
    (key, dim)-keyed aggregation: the vectors themselves never
    shuffle."""
    return (
        vecs.select(key, F.posexplode(vec).alias("dim", "x"))
        .groupBy(key, "dim")
        .agg(mean.alias("m"))
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(key, F.transform("dm", lambda s: s["m"]).alias("cv"))
    )


def _quantized_mean() -> Column:
    """The cross-engine exact mean of ``x`` (see
    :func:`embed_outliers`): an integer sum of ``floor(x*1e9 + 0.5)``,
    then two divides."""
    xq = F.floor(F.col("x") * OUTLIER_QUANT + F.lit(0.5)).cast("long")
    return F.sum(xq).cast("double") / F.count("*") / F.lit(float(OUTLIER_QUANT))


def ivf_topk_oracle() -> str:
    sim_vc = sql_cosine("c.embedding", "ct.embedding")
    sim_qc = sql_cosine("q.embedding", "ct.embedding")
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
    WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, ct.cent_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY {sim_vc} DESC, ct.cent_id ASC) AS rk
        FROM embeddings c CROSS JOIN cents ct
      ) t WHERE rk = 1
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, ct.cent_id AS cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY {sim_qc} DESC, ct.cent_id ASC) AS rk
        FROM embeddings q CROSS JOIN cents ct
        WHERE q.vec_id < {N_QUERIES}
      ) t WHERE rk <= {NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {cos} AS cos_sim
      FROM probes p
      JOIN assigned a ON a.cell = p.cell
      JOIN embeddings c ON c.vec_id = a.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, rank, vec_id, cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= {TOPK}
    """


NEARDUP_TAU = 0.30  # calibrated: 99th pct of same-label cosine is ~0.295


NEARDUP_BANDS = 4  # OR-amplification: candidate iff ANY band matches
NEARDUP_BAND_BITS = 2  # AND-amplification within a band


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= τ over candidates
    blocked on (label, LSH band, band signature) — the MinHash
    band-bucket shape applied to signed-random-projection bits.

    The label alone is a constant-domain block (O(n²/|labels|) pairs —
    a scale-killer). Instead the hyperplane signature is split into
    ``NEARDUP_BANDS`` bands of ``NEARDUP_BAND_BITS`` bits; two vectors
    become a candidate iff some band's bit pattern matches exactly —
    an equi-join on (label, band, band_sig), never an all-pairs block.
    AND-within-band / OR-across-bands gives the classic S-curve: at
    per-bit agreement p = 1 - θ/π, candidate probability is
    1-(1-p^BB)^NB (≈0.82 for τ=0.30 pairs here, falling geometrically
    for dissimilar ones; production near-dup at τ≈0.9 discriminates
    far more sharply with wider bands). Verification is exact cosine
    on candidates only; recall is part of the operator contract and
    the oracle mirrors the same bands bit-for-bit.

    r12 optimization (guide §2.4/§8): (1) band signatures are computed
    ROW-LOCALLY against a 1-row broadcast plane array — the former
    (corpus x planes) explode + (vec_id, band) groupBy + join-back
    shuffled the corpus twice before any pairing; the band list
    derives from the planes actually present (floor(pid/BB) over the
    collected array), so missing planes degrade exactly like the old
    per-pid grouping. (2) Exact cosine is computed on the
    band match and the τ filter applied BEFORE the cross-band dedup,
    so the distinct exchange carries slim (label, ids, one double)
    rows instead of both 64-dim vectors; duplicates of a pair carry a
    bit-identical cos_sim (same fold on same operands), so dedup keeps
    the same single row per pair."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", "label", _dvec("embedding").alias("v"))
    bb = F.lit(NEARDUP_BAND_BITS)
    band_of = lambda p: F.floor(p["pid"] / bb).cast("int")  # noqa: E731
    sig_of = lambda band: F.aggregate(  # noqa: E731 — Σ bit·2^(pid%BB) over the band's planes
        F.filter("ps", lambda p: band_of(p) == band),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.when(_dot(F.col("v"), p["pv"]) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        * F.pow(F.lit(2.0), p["pid"] % bb).cast("bigint"),
    )
    feat = (
        corpus.crossJoin(F.broadcast(_planes_row(emb, NEARDUP_BANDS * NEARDUP_BAND_BITS)))
        .select(
            "vec_id", "label", "v", _norm(F.col("v")).alias("nv"),
            F.explode(
                F.transform(
                    F.array_distinct(F.transform("ps", band_of)),
                    lambda band: F.struct(band.alias("band"), sig_of(band).alias("band_sig")),
                )
            ).alias("bs"),
        )
        .select("vec_id", "label", "v", "nv", "bs.band", "bs.band_sig")
    )
    a = feat.select(
        "label", "band", "band_sig",
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = feat.select(
        "label", "band", "band_sig",
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        a.join(b, ["label", "band", "band_sig"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "label",
            "vec_a",
            "vec_b",
            _cos_staged(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_TAU)
        .dropDuplicates(["label", "vec_a", "vec_b"])
    )


def embedding_neardup_oracle() -> str:
    cos = sql_cosine("a.embedding", "b.embedding")
    dot_vp = sql_dot("c.embedding", "p.embedding")
    nbits = NEARDUP_BANDS * NEARDUP_BAND_BITS
    return f"""
    WITH planes AS (SELECT vec_id AS pid, embedding FROM embeddings WHERE vec_id < {nbits}),
    bits AS (
      SELECT c.vec_id, p.pid,
             CASE WHEN {dot_vp} >= 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings c CROSS JOIN planes p
    ),
    bsig AS (
      SELECT vec_id, CAST(floor(pid / {NEARDUP_BAND_BITS}) AS INTEGER) AS band,
             CAST(sum(bit * CAST(pow(2.0, pid % {NEARDUP_BAND_BITS}) AS BIGINT)) AS BIGINT) AS band_sig
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.label, sa.vec_id AS vec_a, sb.vec_id AS vec_b
      FROM bsig sa
      JOIN bsig sb ON sa.band = sb.band AND sa.band_sig = sb.band_sig
                   AND sa.vec_id < sb.vec_id
      JOIN embeddings a ON a.vec_id = sa.vec_id
      JOIN embeddings b ON b.vec_id = sb.vec_id AND a.label = b.label
    )
    SELECT cand.label, vec_a, vec_b, {cos} AS cos_sim
    FROM cand
    JOIN embeddings a ON a.vec_id = vec_a
    JOIN embeddings b ON b.vec_id = vec_b
    WHERE {cos} >= {NEARDUP_TAU}
    """


# ===========================================================================
# Iterative algorithm: Lloyd's k-means over the embedding corpus
# ===========================================================================

KMEANS_K = 8
KMEANS_ITERS = 3


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's, fixed iterations, deterministic init = lowest
    vec_ids) expressed as iterated DataFrame plans: assignment is a
    broadcast-argmin, the centroid update is a per-dimension mean via
    posexplode+groupBy (associative — safe partial aggregation).

    Iterative algorithms don't fit one SQL statement (driver records a
    rows-only check); tests assert monotone inertia descent instead.
    At 100 TB: per-iteration cost is one broadcast join + one
    (cluster, dim)-keyed aggregation of slim rows; centroids stay tiny
    and the corpus is never shuffled.
    """
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", _dvec("embedding").alias("v")).localCheckpoint(eager=False)
    assigned = _nearest_l2(corpus, _kmeans_seeds(emb))
    for _ in range(KMEANS_ITERS):
        # centroid update: mean per (cluster, dimension)
        means = _dim_means(assigned, "cid", "v", F.avg("x"))
        assigned = _nearest_l2(corpus, means.localCheckpoint(eager=False))

    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum(F.col("dist2").cast("decimal(28,12)")).cast("double").alias("inertia"),
    )


def _kmeans_seeds(emb: DataFrame) -> DataFrame:
    """(cid, cv): the deterministic k-means seeds (lowest vec_ids)."""
    return emb.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"), _dvec("embedding").alias("cv")
    )


def _nearest_l2(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid, dist2): each (vec_id, v) vector's nearest
    centroid (cid, cv) by squared L2 (ties -> lower cid), against a
    broadcast centroid relation — the k-means assignment step."""
    from pyspark.sql import Window

    diff = F.zip_with("v", "cv", lambda a, b: a - b)
    ac = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cid", _dot(diff, diff).alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist2").asc(), F.col("cid").asc())
    return (
        ac.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "v", "cid", "dist2")
    )


def sql_dist2(a: str, b: str) -> str:
    """DuckDB twin of the Spark squared-distance fold (same order)."""
    diffs = (
        f"list_transform(generate_series(1, {DIM}), i -> "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))"
    )
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {diffs}), (acc, x) -> acc + x)"


def kmeans_one_iter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE closed-form Lloyd iteration, hash-checkable cross-engine:
    assign to the fixed seeds (lowest vec_ids), recompute centroids as
    per-dimension integer-quantized means, reassign, and emit
    per-cluster (n_members, inertia). Sums use ``floor(v*1e9 + 0.5)``
    integer quantization, NOT double->decimal casts: decimal casts
    tie-break differently across engines (Spark HALF_UP vs DuckDB
    half-even) and float-origin dyadics land exactly on decimal tie
    boundaries often enough that the sf0.1 sweep caught a 1e-12
    inertia drift (1 row in 8000 hit a boundary; sf0.01 got lucky).
    floor is IEEE-exact and identical everywhere; every remaining step
    is the same IEEE op on identical operands. The multi-iteration
    variant (:func:`kmeans_clusters`) keeps the descent property
    tests. Same plan shape at scale: broadcast-argmin assignment +
    slim (cid, dim) aggregation, corpus never shuffled."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", _dvec("embedding").alias("v"))
    a1 = _nearest_l2(corpus, _kmeans_seeds(emb))
    a2 = _nearest_l2(corpus, _dim_means(a1, "cid", "v", _quantized_mean()))
    dq = F.floor(F.col("dist2") * OUTLIER_QUANT + F.lit(0.5)).cast("long")
    return a2.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        (F.sum(dq).cast("double") / F.lit(float(OUTLIER_QUANT))).alias("inertia"),
    )


def kmeans_one_iter_oracle() -> str:
    d0 = sql_dist2("e.embedding", "c.embedding")
    d2 = sql_dist2("e.embedding", "c.cv")
    return f"""
    WITH c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM embeddings
      WHERE vec_id < {KMEANS_K}
    ),
    a1 AS (
      SELECT vec_id, cid, dist2 FROM (
        SELECT e.vec_id, c.cid, {d0} AS dist2,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d0} ASC, c.cid ASC) AS rk
        FROM embeddings e CROSS JOIN c0 c
      ) t WHERE rk = 1
    ),
    dims AS (
      SELECT a1.cid, gs.i AS dim, CAST(e.embedding[gs.i] AS DOUBLE) AS x
      FROM a1
      JOIN embeddings e ON e.vec_id = a1.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) gs
    ),
    means AS (
      -- integer-quantized mean (floor(x*1e9 + 0.5)): double->decimal
      -- casts tie-break differently across engines; floor does not.
      -- CAST on the sum: DuckDB sum(BIGINT) is HUGEINT otherwise.
      SELECT cid, dim,
             CAST(CAST(sum(CAST(floor(x * {OUTLIER_QUANT}.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS DOUBLE) / count(*)
               / {OUTLIER_QUANT}.0 AS m
      FROM dims GROUP BY cid, dim
    ),
    cents AS (
      SELECT cid, list(m ORDER BY dim) AS cv FROM means GROUP BY cid
    ),
    a2 AS (
      SELECT vec_id, cid, dist2 FROM (
        SELECT e.vec_id, c.cid, {d2} AS dist2,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2} ASC, c.cid ASC) AS rk
        FROM embeddings e CROSS JOIN cents c
      ) t WHERE rk = 1
    )
    SELECT cid, count(*) AS n_members,
           CAST(CAST(sum(CAST(floor(dist2 * {OUTLIER_QUANT}.0 + 0.5) AS BIGINT))
                     AS BIGINT) AS DOUBLE) / {OUTLIER_QUANT}.0 AS inertia
    FROM a2 GROUP BY cid
    """


# ===========================================================================
# LSH-bucketed near-dup (the scale path for embedding_neardup_pairs)
# ===========================================================================

LSH_BITS = 8


def _planes_row(emb: DataFrame, n_planes: int) -> DataFrame:
    """ONE row holding every hyperplane as a (pid, pv) struct array —
    broadcast-cross-joined so per-vector signatures become row-local
    arithmetic (r12): the former (corpus x planes) explode + groupBy
    shuffled |corpus| x n_planes slim rows and then joined the
    signature relation back onto the corpus (a second corpus-sized
    exchange); folding over the collected plane array computes the
    identical integer signature with ZERO exchanges. ``array_sort`` on
    the struct array is only for a deterministic display order —
    signatures are integer sums, exact in any order."""
    planes = (
        emb.where(F.col("vec_id") < n_planes)
        .select(F.col("vec_id").cast("int").alias("pid"), _dvec("embedding").alias("pv"))
    )
    return planes.agg(F.array_sort(F.collect_list(F.struct("pid", "pv"))).alias("ps"))


def _lsh_bucket(v: Column) -> Column:
    """Row-local twin of the former ``_lsh_signatures`` aggregation:
    bucket = Σ bit(pid)·2^pid over the collected planes. The per-term
    expression (sign test, pow(2.0, pid) cast bigint) is unchanged;
    the sum is integer, so the fold order cannot matter."""
    return F.aggregate(
        F.col("ps"),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.when(_dot(v, p["pv"]) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        * F.pow(F.lit(2.0), p["pid"]).cast("bigint"),
    )


def lsh_bucketed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-dup: bucket every vector by its
    hyperplane signature, then compare only same-bucket pairs with
    exact cosine. At 100 TB the bucket id is the partition key, so
    candidate generation is an equi-join on a 2^8 domain instead of an
    n² cross product; recall is tunable via bits and multi-probe.

    r12 optimization (guide §2.4): signatures are computed ROW-LOCALLY
    against a 1-row broadcast plane array (no corpus-sized signature
    shuffle, no join back onto the corpus), and the bucketed relation
    is pinned once — the self-join's two sides previously re-executed
    the whole signature pipeline (mirrored subtrees, 6 parquet scans).
    The empty-plane guard (size(ps) > 0) reproduces the former inner
    join's behavior when no plane vectors exist."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", _dvec("embedding").alias("v"))
    bucketed = (
        corpus.crossJoin(F.broadcast(_planes_row(emb, LSH_BITS)))
        .where(F.size("ps") > 0)
        .select(
            "vec_id", "v", _lsh_bucket(F.col("v")).alias("bucket"),
            _norm(F.col("v")).alias("nv"),
        )
        # read by both self-join sides (without it: 5.00 s instead of
        # 3.88 s at sf1, 4 cores)
        .localCheckpoint(eager=False)
    )
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "bucket",
            "vec_a",
            "vec_b",
            _cos_staged(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.25)
    )


def lsh_bucketed_neardup_oracle() -> str:
    dot_vp = sql_dot("c.embedding", "p.embedding")
    cos = sql_cosine("a.embedding", "b.embedding")
    return f"""
    WITH planes AS (SELECT vec_id AS pid, embedding FROM embeddings WHERE vec_id < {LSH_BITS}),
    sig AS (
      SELECT c.vec_id,
             CAST(sum(CASE WHEN {dot_vp} >= 0 THEN 1 ELSE 0 END * CAST(pow(2.0, p.pid) AS BIGINT)) AS BIGINT) AS bucket
      FROM embeddings c CROSS JOIN planes p
      GROUP BY c.vec_id
    )
    SELECT sa.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
    FROM sig sa
    JOIN sig sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
    JOIN embeddings a ON a.vec_id = sa.vec_id
    JOIN embeddings b ON b.vec_id = sb.vec_id
    WHERE {cos} >= 0.25
    """


# ===========================================================================
# SemDeDup: semantic dedup inside k-means cells
# ===========================================================================

SEMDEDUP_TAU = 0.30  # same calibration as NEARDUP_TAU


def _witness_removed_ids(ms: str = "ms") -> Column:
    """vec_ids the SemDeDup witness rule removes from a sorted member
    array column ``ms`` (structs of vec_id, v, nv — ascending vec_id):
    member j is removed iff some earlier member i < j has
    ``dot(v_i, v_j) / (nv_i * nv_j) >= SEMDEDUP_TAU``.

    r13 (VERDICT r12 #3): the r12 fold tested each member against
    ``slice(ms, 1, j)`` — a fresh deep COPY of the whole prefix,
    vectors included, per member (UnsafeArrayData slices copy bytes),
    i.e. O(|cell|^2) bytes of transient copying on top of the cell
    row. This fold probes the members IN PLACE: ``exists`` iterates
    the existing ``ms`` array and a short-circuiting
    ``p.vec_id < m.vec_id`` guard (Catalyst ``And`` evaluates its
    right side only when the left is true, interpreted and codegen)
    restricts the cosine to earlier members — ms is sorted by the
    unique vec_id, so the guard IS "i < j". Same witness set, same
    IEEE cosine tree (identical operands and fold order), and ZERO
    allocation per probe (an index-``sequence`` variant was measured
    first and rejected: materializing the 1..j index array per member
    re-created quadratic total allocation, ~20 GB on the hot-cell
    test). ``exists`` stops at the first witness, so dup-heavy cells
    degrade to near-linear work.

    The remaining size assumption is explicit and by design: a cell is
    a k-means cluster and k scales with the corpus (k ~ n /
    target-cell-size — see :func:`semdedup_summary`), so the one
    collected row per cell stays bounded; this helper removes the
    QUADRATIC memory term the fold added on top of it (the pairwise
    TIME bound is inherent to the exact witness rule). Locked by
    tests/test_opt_r13.py (brute-force exactness + 100k-member hot
    cell)."""
    return F.filter(
        F.transform(
            ms,
            lambda m: F.when(
                F.exists(
                    ms,
                    lambda p: (p.vec_id < m.vec_id)
                    & (_dot(p.v, m.v) / (p.nv * m.nv) >= SEMDEDUP_TAU),
                ),
                m.vec_id,
            ),
        ),
        lambda x: x.isNotNull(),
    )


def semdedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus with k-means, then inside each cluster drop every vector
    that is cosine-close (>= :data:`SEMDEDUP_TAU`) to a surviving
    lower-id vector — semantic near-duplicates collapse to one
    representative without any global pair space. Emits the per-cluster
    audit: (cid, n_members, n_removed, removed_checksum).

    The keep rule is "remove b iff some a < b in the same cluster has
    cos(a, b) >= tau" — the greedy min-id representative. It needs one
    within-cluster pair join, NOT the transitive closure: every removed
    vector names a specific earlier witness.

    At 100 TB this is the production semantic-dedup shape: the cluster
    id is the blocking key, and k scales with the corpus (k ~ n /
    target-cell-size) so the per-cell pair space stays n x cell_size —
    unlike label/lang blocking (bounded block count => quadratic
    blocks), which this operator family replaced. Assignment is a
    broadcast argmin (corpus never shuffles for it); the pair join
    shuffles the slim (cid, vec_id, v) relation once."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", _dvec("embedding").alias("v"))
    assigned = (
        _nearest_l2(corpus, _kmeans_seeds(emb))
        # nv staged once per member: the pair test divides a single
        # dot by the two staged norms — the identical
        # dot/(sqrt(dot aa)*sqrt(dot bb)) tree `cosine` builds, minus
        # recomputing each member's norm fold once per PAIR (2/3 of
        # the pair work for 64-dim vectors)
        .select("cid", "vec_id", "v", _norm(F.col("v")).alias("nv"))
    )
    # r12 optimization — ONE assignment pass, no pair join: `assigned`
    # used to be referenced three times (both sides of the
    # within-cluster pair join + the members count), so the broadcast
    # argmin over the full corpus was planned and executed three
    # times. Collecting each cell once (groupBy cid, sorted members)
    # makes the pair space a ROW-LOCAL fold: member j is removed iff
    # some earlier member i < j in the same (bounded-size) cell is
    # cosine-close — the identical witness rule, the identical cosine
    # expression tree (same fold order, same IEEE doubles), evaluated
    # once per unordered pair exactly like the join produced. Plan:
    # three argmin subtrees + two shuffles + SMJ -> one argmin subtree
    # + one groupBy(cid) exchange.
    cells = assigned.groupBy("cid").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("vec_id"),
                    F.col("v").alias("v"),
                    F.col("nv").alias("nv"),
                )
            )
        ).alias("ms")
    )
    staged = cells.select(
        "cid",
        F.size("ms").cast("long").alias("n_members"),
        _witness_removed_ids().alias("rem"),
    )
    return staged.select(
        "cid",
        "n_members",
        F.size("rem").cast("long").alias("n_removed"),
        F.aggregate("rem", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "removed_checksum"
        ),
    )


def semdedup_oracle() -> str:
    d0 = sql_dist2("e.embedding", "c.embedding")
    cos = sql_cosine("ea.embedding", "eb.embedding")
    return f"""
    WITH c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM embeddings
      WHERE vec_id < {KMEANS_K}
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid, {d0} AS dist2,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d0} ASC, c.cid ASC) AS rk
        FROM embeddings e CROSS JOIN c0 c
      ) t WHERE rk = 1
    ),
    removed AS (
      SELECT DISTINCT a.cid, b.vec_id AS vec_b
      FROM assigned a
      JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {cos} >= {SEMDEDUP_TAU}
    ),
    rem AS (
      -- CAST: DuckDB sum(BIGINT) is HUGEINT, which hash-mismatches
      SELECT cid, count(*) AS n_removed,
             CAST(sum(vec_b) AS BIGINT) AS removed_checksum
      FROM removed GROUP BY cid
    )
    SELECT m.cid, m.n_members,
           coalesce(rem.n_removed, 0) AS n_removed,
           coalesce(rem.removed_checksum, 0) AS removed_checksum
    FROM (SELECT cid, count(*) AS n_members FROM assigned GROUP BY cid) m
    LEFT JOIN rem ON m.cid = rem.cid
    """


# ---------------------------------------------------------------------------
# embedding-space outlier filtering (semantic quality pass)
# ---------------------------------------------------------------------------

OUTLIER_TOPK = 5
OUTLIER_QUANT = 1_000_000_000  # 1e-9 component quantization for the centroid


def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outliers: (label, rk, vec_id, dist2) — the
    :data:`OUTLIER_TOPK` vectors farthest (squared L2) from their own
    label's centroid. The semantic-outlier curation pass: vectors far
    from every mass of their class are mislabeled, noisy, or
    adversarial examples a training pipeline quarantines before mixing.

    Cross-engine exact: the centroid mean is computed over
    integer-quantized components — ``floor(x * 1e9 + 0.5)`` — rather
    than a double->decimal cast, because decimal casts tie-break
    differently across engines (Spark HALF_UP vs DuckDB half-even) and
    float-origin dyadics DO land exactly on decimal tie boundaries
    (observed: 1 of 640 centroid dims drifted 2e-14, which a per-row
    dist2 output cannot absorb the way k-means' decimal-rounded inertia
    does). ``floor`` is IEEE-exact and identical on both engines, the
    quantized sum is integer (order-independent), and every remaining
    step — two divides, the subtract/multiply/add fold of dist2 — is
    the same IEEE op on identical operands. No libm, no decimals.

    At 100 TB: the centroid aggregation shuffles slim (label, dim, x)
    rows with map-side partial sums; centroids (|labels| x DIM) come
    back as a broadcast; the top-k window runs on (label, vec_id,
    dist2) projections — the embedding payload itself never shuffles.
    A pathologically hot label turns the window's sort into one big
    partition; at that scale swap in operators/topk.py's grouped
    partial top-k (same contract, heap-merged)."""
    from pyspark.sql import Window

    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = emb.select("vec_id", "label", _dvec("embedding").alias("v"))
    cents = _dim_means(corpus, "label", "v", _quantized_mean())
    diff = F.zip_with("v", "cv", lambda a, b: a - b)
    scored = corpus.join(F.broadcast(cents), "label").select(
        "label", "vec_id", _dot(diff, diff).alias("dist2")
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= OUTLIER_TOPK)
        .select("label", "rk", "vec_id", "dist2")
    )


def embed_outliers_oracle() -> str:
    d2 = sql_dist2("e.embedding", "c.cv")
    return f"""
    WITH dims AS (
      SELECT label, gs.i AS dim,
             CAST(floor(CAST(embedding[gs.i] AS DOUBLE) * {OUTLIER_QUANT}.0 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) gs
    ),
    means AS (
      -- CAST on the sum: DuckDB sum(BIGINT) is HUGEINT, which hash-mismatches
      SELECT label, dim,
             CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*)
               / {OUTLIER_QUANT}.0 AS m
      FROM dims GROUP BY label, dim
    ),
    cents AS (SELECT label, list(m ORDER BY dim) AS cv FROM means GROUP BY label),
    scored AS (
      SELECT e.label, e.vec_id, {d2} AS dist2
      FROM embeddings e JOIN cents c ON e.label = c.label
    )
    SELECT label, rk, vec_id, dist2 FROM (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id ASC) AS rk
      FROM scored
    ) t WHERE rk <= {OUTLIER_TOPK}
    """


# ---------------------------------------------------------------------------
# int8-quantized similarity search (the memory-bound scale path)
# ---------------------------------------------------------------------------


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q, qnorm): symmetric per-vector int8 quantization —
    scale = max|x|/127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127] —
    plus the integer self-dot. floor(x + 0.5) is the repo's standard
    cross-engine rounding (IEEE-exact both engines; round() is
    HALF_UP on Spark but half-even on DuckDB). The per-vector scale
    CANCELS in cosine (cos = idot/sqrt(idot_aa*idot_bb)), so quantized
    cosine needs no float rescale at all — pure integer dots + one
    sqrt, bit-identical cross-engine."""
    v = _dvec("embedding")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long"))
    out = emb.select("vec_id", q.alias("q"))
    idot = F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return out.select("vec_id", "q", idot.alias("qnorm"))


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    memory-bound answer at 100 TB: 4× smaller vectors than float32
    (32× smaller than the double compute form), integer dot products,
    and the same broadcast-queries/no-corpus-shuffle plan as
    :func:`brute_topk`. Recall vs the float path is pinned by a test;
    the registry oracle is the exact integer twin, so correctness here
    means bit-exact quantized arithmetic, not approximate floats."""
    from pyspark.sql import Window

    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    qrel = _quantized(emb)
    corpus = qrel.select("vec_id", "q", "qnorm")
    queries = qrel.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qnorm").alias("qqnorm"),
    )
    idot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.when(
                (F.col("qnorm") > 0) & (F.col("qqnorm") > 0),
                idot.cast("double")
                / F.sqrt((F.col("qnorm") * F.col("qqnorm")).cast("double")),
            )
            .otherwise(F.lit(0.0))
            .alias("qcos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "rank", "vec_id", "qcos_sim")
    )


def _sql_quantized_cte() -> str:
    """DuckDB CTE 'qrel' mirroring :func:`_quantized`."""
    v = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    mx = f"list_max(list_transform({v}, x -> abs(x)))"
    return f"""
    pre AS (
      SELECT vec_id, {v} AS v,
             (CASE WHEN {mx} > 0 THEN {mx} / 127.0 ELSE 1.0 END) AS scale
      FROM embeddings
    ),
    qrel AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
      FROM pre
    ),
    qn AS (
      SELECT vec_id, q,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, {DIM}), i -> q[i] * q[i])),
               (acc, x) -> acc + x) AS qnorm
      FROM qrel
    )"""


def quantized_topk_oracle() -> str:
    idot = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {DIM}), i -> c.q[i] * qy.q[i])), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
    WITH {_sql_quantized_cte()},
    scored AS (
      SELECT qy.vec_id AS query_id, c.vec_id AS vec_id,
             CASE WHEN c.qnorm > 0 AND qy.qnorm > 0
                  THEN CAST({idot} AS DOUBLE) / sqrt(CAST(c.qnorm * qy.qnorm AS DOUBLE))
                  ELSE 0.0 END AS qcos_sim
      FROM qn c JOIN qn qy ON c.vec_id != qy.vec_id
      WHERE qy.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, vec_id, qcos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, rank, vec_id, qcos_sim FROM ranked WHERE rank <= {TOPK}
    """


# ---------------------------------------------------------------------------
# cross-label centroid drift (corpus-mixture monitoring)
# ---------------------------------------------------------------------------


def centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label_a, label_b, cos_centroid) for every unordered label pair —
    the pairwise cosine between per-label embedding centroids. The
    corpus-mixture monitoring pass: two labels whose centroids drift
    together are collapsing into one distribution (dedupe or re-label),
    and tracking the matrix across snapshots detects embedding-model or
    upstream-data drift before it poisons a training mix.

    Numeric discipline matches :func:`embed_outliers`: components are
    ``floor(x*1e9 + 0.5)`` integer-quantized before the mean (IEEE-exact
    on both engines, order-independent integer sums), then the pairwise
    cosine folds the 64-dim centroid arrays left-to-right in double —
    identical operands, identical op order, bit-identical results.

    At 100 TB: the only corpus-sized work is the slim (label, dim, xq)
    aggregation with map-side partial sums; the centroid relation is
    |labels| rows, and the pair join is an intentionally tiny broadcast
    nested-loop over that relation (|labels|² pairs, bounded by the
    label catalog — never corpus-sized). Sum-in-long overflows only
    past ~4e9 vectors per label; swap the partial sums to
    DECIMAL(38,0) (the ext_dataset_manifest trick) beyond that."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    cents = _dim_means(emb, "label", _dvec("embedding"), _quantized_mean())
    a = cents.select(F.col("label").alias("label_a"), F.col("cv").alias("cva"))
    b = cents.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            (
                _dot(F.col("cva"), F.col("cvb"))
                / (_norm(F.col("cva")) * _norm(F.col("cvb")))
            ).alias("cos_centroid"),
        )
    )


def centroid_drift_oracle() -> str:
    dot = sql_dot("a.cv", "b.cv")
    na = sql_dot("a.cv", "a.cv")
    nb = sql_dot("b.cv", "b.cv")
    return f"""
    WITH dims AS (
      SELECT label, gs.i AS dim,
             CAST(floor(CAST(embedding[gs.i] AS DOUBLE) * {OUTLIER_QUANT}.0 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) gs
    ),
    means AS (
      SELECT label, dim,
             CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*)
               / {OUTLIER_QUANT}.0 AS m
      FROM dims GROUP BY label, dim
    ),
    cents AS (SELECT label, list(m ORDER BY dim) AS cv FROM means GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           {dot} / (sqrt({na}) * sqrt({nb})) AS cos_centroid
    FROM cents a JOIN cents b ON a.label < b.label
    """


# ---------------------------------------------------------------------------
# exact integer Gram matrix (covariance building blocks / PCA precursor)
# ---------------------------------------------------------------------------

# quantization scale for the Gram matrix: floor(x*1e6 + 0.5) is
# IEEE-exact in every engine (unlike decimal casts, which round
# half-up in Spark and half-even in DuckDB). |e| < 1 in this corpus,
# so q < 1e6, q_i*q_j < 1e12, and an int64 per-partition partial is
# exact up to ~9e6 rows per partition — far above any sane Arrow
# batch; the cross-partition reduce is a 2080-key sum.
QGRAM_SCALE = 10**6


def embed_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular Gram matrix of the quantized embedding corpus:
    (i, j, n_vecs, sum_qq) for 1 <= i <= j <= DIM, where sum_qq =
    sum over vectors of q_i * q_j — the exact-integer building blocks
    of the covariance/correlation matrix (dimension redundancy, PCA
    prep: cov = (sum_qq - sum_i*sum_j/n)/n in post-processing of the
    diagonal+off-diagonal rows).

    Scale shape: mapInPandas computes a dense d x d int64 partial per
    Arrow batch (vectorized Q^T Q — numpy matmul, no per-row Python)
    and emits ONLY the d(d+1)/2 upper-triangle partials; the shuffle
    is 2080 rows per partition regardless of corpus size, then one
    map-side-combinable sum. The explode-based equivalent (the DuckDB
    oracle's shape) would shuffle d^2/2 rows PER VECTOR — 2000x more
    at any scale."""
    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"), spark)
    return embed_gram_of(emb)


def embed_gram_of(emb: DataFrame) -> DataFrame:
    """The Gram pipeline over any frame with an ``embedding`` column —
    the seam tests use to drive alternate partitionings."""
    import numpy as np
    import pandas as pd

    d = DIM
    iu, ju = np.triu_indices(d)

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # float32 -> float64 BEFORE scaling: the widening is
            # value-exact and matches the oracle's CAST(x AS DOUBLE),
            # while float32 arithmetic would round differently
            q = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * QGRAM_SCALE
                + 0.5
            ).astype(np.int64)
            g = q.T @ q  # exact: |q| < 1e6 -> products < 1e12, int64 partials
            yield pd.DataFrame(
                {
                    "i": iu + 1,
                    "j": ju + 1,
                    "n_part": np.int64(len(pdf)),
                    "qq_part": g[iu, ju],
                }
            )

    partials = emb.select("embedding").mapInPandas(
        gram_partials, "i int, j int, n_part bigint, qq_part bigint"
    )
    # cross-partition reduce in decimal(38,0), cast back to bigint
    # (ADVICE r11): the per-partition int64 partial is bounded by batch
    # size (~9e6 rows), but the CORPUS-level sum has the same 1e12
    # per-row worst case — past ~9e12 rows an int64 sum would wrap
    # silently (ANSI off) while the DuckDB oracle sums in HUGEINT. The
    # decimal sum is exact to 1e38; the final bigint cast yields NULL
    # (loud, never wrong-valued) in the astronomically-out-of-range
    # case. 2080 groups — the wider accumulator costs nothing.
    return partials.groupBy("i", "j").agg(
        F.sum("n_part").alias("n_vecs"),
        F.sum(F.col("qq_part").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("sum_qq"),
    )


def embed_gram_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT list_transform(
               embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QGRAM_SCALE} + 0.5) AS BIGINT)
             ) AS qv
      FROM embeddings
    ),
    ii AS (SELECT qv, unnest(generate_series(1, {DIM})) AS i FROM q),
    ij AS (SELECT qv, i, unnest(generate_series(i, {DIM})) AS j FROM ii)
    SELECT i, j, count(*) AS n_vecs, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS sum_qq
    FROM ij GROUP BY i, j
    """
