"""Round-13 optimization locks (OPTIMIZATION_r13.md): the two uncapped
single-row materialization hot-spots VERDICT r12 flagged (#2 minhash
LSH bucket pair expansion, #3 semdedup cell witness fold) are rewritten
to stream / index-probe instead of building quadratic (or
quadratically-copied) in-row state. Each rewrite gets an exactness test
against a brute-force reference AND a hot-bucket/hot-cell property test
sized so the r12 shape could not complete it."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# minhash LSH candidate pair expansion (dedup._expand_bucket_pairs)
# ---------------------------------------------------------------------------


def test_minhash_bucket_pairs_exact_small(spark):
    # identical a<b pair multiset as the r12 flatten/transform array
    # (and the pre-r12 self-join) on a normal bucket
    from hbasewd_spark.operators.dedup import _expand_bucket_pairs

    ids = [100 + i for i in range(60)]
    grouped = spark.createDataFrame(
        [(0, 1, ids)], "band int, band_hash bigint, ds array<bigint>"
    )
    got = sorted((r.doc_a, r.doc_b) for r in _expand_bucket_pairs(grouped).collect())
    want = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    assert got == want


def test_minhash_hot_bucket_streams(spark):
    # Degenerate hot bucket: 20k docs sharing one (band, band_hash) =>
    # ~2e8 candidate pairs. The r12 shape evaluated the ENTIRE pair
    # struct array as one in-row value before explode — 2e8 16-byte
    # structs is ~3.2 GB, past the 2 GiB UnsafeArrayData hard cap, so
    # the single row CRASHES the task (and bigger buckets OOM long
    # before the cap). The streamed shape (two chained generators,
    # suffix slices of bare 8-byte ids) keeps peak per-row memory at
    # O(|ds|) — the same order as the collected bucket row itself —
    # and must complete the full count (measured ~130M pairs/s through
    # whole-stage codegen; ~2 s here).
    from hbasewd_spark.operators.dedup import _expand_bucket_pairs

    n = 20_000
    grouped = spark.range(1).select(
        F.lit(0).alias("band"),
        F.lit(1).cast("bigint").alias("band_hash"),
        F.sequence(F.lit(0).cast("bigint"), F.lit(n - 1).cast("bigint")).alias("ds"),
    )
    assert _expand_bucket_pairs(grouped).count() == n * (n - 1) // 2


# ---------------------------------------------------------------------------
# semdedup witness fold (similarity._witness_removed_ids)
# ---------------------------------------------------------------------------


def _mk_cell(spark, members):
    """One cell row from [(vec_id, vector)], with nv staged exactly as
    semdedup stages it (sqrt of the left-fold self-dot)."""
    rows = [
        (
            0,
            [
                (vid, v, math.sqrt(sum((x * x for x in v), 0.0)))
                for vid, v in members
            ],
        )
    ]
    return spark.createDataFrame(
        rows, "cid int, ms array<struct<vec_id:bigint,v:array<double>,nv:double>>"
    )


def test_semdedup_witness_fold_exact_small(spark):
    # brute-force the witness rule (member j removed iff some earlier
    # member i<j has cos >= tau) with the identical IEEE fold order
    from hbasewd_spark.operators.similarity import SEMDEDUP_TAU, _witness_removed_ids

    dim = 4
    members = []
    for vid in range(64):
        # deterministic signed components in [-0.5, 0.5): mixes
        # removed and kept at tau=0.30
        v = [
            (((vid * 1103515245 + d * 12345 + 7) % 1000) / 1000.0) - 0.5 + 1e-3
            for d in range(dim)
        ]
        members.append((vid, v))

    def cos(a, b):
        dot = sum((x * y for x, y in zip(a, b)), 0.0)
        na = math.sqrt(sum((x * x for x in a), 0.0))
        nb = math.sqrt(sum((x * x for x in b), 0.0))
        return dot / (na * nb)

    expected = [
        vid
        for j, (vid, v) in enumerate(members)
        if any(cos(members[i][1], v) >= SEMDEDUP_TAU for i in range(j))
    ]
    assert expected and len(expected) < len(members)  # non-degenerate case
    got = _mk_cell(spark, members).select(_witness_removed_ids().alias("rem"))
    assert sorted(got.collect()[0].rem) == sorted(expected)


def test_event_funnel_null_ts_view_is_stage_one(spark, tmp_path):
    # ADVICE r12 #4: a user whose ONLY view events carry a NULL ts is
    # stage 1 under FUNNEL_ORACLE (s1 GROUPs every user with any view
    # row; the stage CASE keys on s1.user_id IS NOT NULL), so the
    # DataFrame form must key stage 1 on "has any view event", not on
    # t1 IS NOT NULL.
    import datetime

    from hbasewd_spark.operators.relational import event_funnel

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    hour = datetime.timedelta(hours=1)
    rows = [
        # user 1: full funnel view -> click -> purchase inside windows
        (1, t0, 1, "view", 1.0, None),
        (2, t0 + hour, 1, "click", 1.0, None),
        (3, t0 + 2 * hour, 1, "purchase", 1.0, None),
        # user 2: view with NULL ts only -> stage 1 (the ADVICE corner)
        (4, None, 2, "view", 1.0, None),
        # user 3: click only -> stage 0
        (5, t0, 3, "click", 1.0, None),
        # user 4: NULL-ts view plus a click (can't qualify: ts >= NULL
        # never matches) -> still stage 1
        (6, None, 4, "view", 1.0, None),
        (7, t0, 4, "click", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.stage: r.n_users for r in event_funnel(spark, str(tmp_path)).collect()}
    assert got == {3: 1, 1: 2, 0: 1}, got


def test_curation_gate_regexes_run_once(spark, sf_dir):
    # r13 (VERDICT r12 #7): the quality+lang gate is fenced behind an
    # explode(array(struct)) generator, so predicate pushdown can no
    # longer inline the regex pipeline into a pre-exchange Filter AND
    # a post-exchange Project — the full formatted plan must carry the
    # quality expression in exactly ONE node (the Generate), and the
    # fingerprint fold in exactly one node AFTER the alive filter.
    from hbasewd_spark.queries import REGISTRY

    df = REGISTRY["ext_pipeline_corpus_curation"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # count plan NODES carrying each expression (a node's detail is one
    # line; the fingerprint fold contains its modulus constant twice
    # within the single expression, so substring counts overshoot)
    assert sum("0.4 * least(1.0" in ln for ln in plan.splitlines()) == 1, (
        "quality pipeline duplicated"
    )
    assert sum("998244353" in ln for ln in plan.splitlines()) == 1, (
        "fingerprint fold duplicated"
    )
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree, tree


def test_scaled_state_partitions_is_input_derived(spark, sf_dir):
    # VERDICT r12 #8: state-store count derives from input volume —
    # MB-scale bench tables get 1 store; the ceiling is the session's
    # own parallelism (a deploy property), never a bench constant.
    from hbasewd_spark.streaming.ingest import (
        _stream_shuffle_partitions,
        scaled_state_partitions,
    )

    assert scaled_state_partitions(spark, sf_dir) == 1
    assert (
        scaled_state_partitions(spark, sf_dir, target_bytes=1)
        == spark.sparkContext.defaultParallelism
    )
    # the conf pin is scoped: restored after the stream start block
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with _stream_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with _stream_shuffle_partitions(spark, None):  # None = leave alone
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_input_sizing_unknown_size_scales_out(spark, tmp_path):
    """One sizer (Fs.du) for every input-sized decision: hidden files
    and dirs are skipped, a single file sizes directly, and a path
    that cannot be sized — an s3a:// path with no FileSystem for the
    scheme here, or a missing one — reports None, which
    scaled_state_partitions turns into defaultParallelism, not 1."""
    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.streaming.ingest import scaled_state_partitions

    remote = "s3a://no-such-bucket/sf"
    assert Fs.du(spark, remote + "/events.parquet") is None
    assert (
        scaled_state_partitions(spark, remote)
        == spark.sparkContext.defaultParallelism
    )
    d = tmp_path / "events.parquet"
    (d / "salt=0").mkdir(parents=True)
    (d / "salt=0" / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "salt=0" / ".part-0.parquet.crc").write_bytes(b"x" * 3)
    (d / "_SUCCESS").write_bytes(b"x" * 7)
    (d / "_zone_maps").mkdir()
    (d / "_zone_maps" / "z.parquet").write_bytes(b"x" * 50)
    assert Fs.du(spark, str(d)) == 100
    assert Fs.du(spark, str(d / "salt=0" / "part-0.parquet")) == 100
    assert Fs.du(spark, str(tmp_path / "missing")) is None
    assert scaled_state_partitions(spark, str(tmp_path)) == 1


def test_semdedup_hot_cell_completes(spark):
    # 100k-member cell of identical unit vectors: every member after
    # the first is removed, each via its FIRST witness (exists
    # early-exits), so the index fold is O(|cell|). The r12 fold
    # SLICED a fresh prefix copy (vectors included) per member —
    # O(|cell|^2) bytes of copying (~1e11 B here): unrunnable. The
    # checksum aggregate forces the full fold.
    from hbasewd_spark.operators.similarity import _witness_removed_ids

    n = 100_000
    cells = spark.range(1).select(
        F.lit(0).alias("cid"),
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(n - 1).cast("bigint")),
            lambda i: F.struct(
                i.alias("vec_id"),
                F.array(F.lit(1.0), F.lit(0.0)).alias("v"),
                F.lit(1.0).alias("nv"),
            ),
        ).alias("ms"),
    )
    rem = _witness_removed_ids()
    row = cells.select(
        F.size(rem).alias("n_rem"),
        F.aggregate(rem, F.lit(0).cast("long"), lambda a, x: a + x).alias("chk"),
    ).collect()[0]
    assert row.n_rem == n - 1
    assert row.chk == n * (n - 1) // 2
