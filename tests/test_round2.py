"""Round-2 operator tests: as-of join, hierarchical rollup,
deterministic sampling, PII scrubbing, contamination, z-order,
zone-map pruned scans."""

import pytest
from pyspark.sql import Row, functions as F

from hbasewd_spark.sources.loaders import load_table


# ---------------------------------------------------------------- as-of join


def _brute_asof(lrows, rrows, direction="backward"):
    out = {}
    for lk, lt, lid in lrows:
        cands = [
            (rt, rv)
            for rk, rt, rv in rrows
            if rk == lk and (rt <= lt if direction == "backward" else rt >= lt)
        ]
        if not cands:
            out[lid] = None
        elif direction == "backward":
            out[lid] = max(cands)[1]
        else:
            out[lid] = min(cands)[1]
    return out


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_bruteforce(spark, direction):
    from hbasewd_spark.operators.asof import asof_join

    lrows = [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 15, "d"), (3, 7, "e")]
    rrows = [(1, 10, 100.0), (1, 12, 120.0), (1, 1, 10.0), (2, 30, 300.0)]
    left = spark.createDataFrame(
        [Row(k=k, t=t, lid=i) for k, t, i in lrows]
    )
    right = spark.createDataFrame(
        [Row(k=k, t=t, v=v) for k, t, v in rrows]
    )
    got = {
        r.lid: r.v_r
        for r in asof_join(
            left, right, on="t", by="k", value_cols=["v"], direction=direction
        ).collect()
    }
    assert got == _brute_asof(lrows, rrows, direction)


def test_asof_join_tolerance_nulls_far_matches(spark):
    from hbasewd_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=1, t=100, lid=1)])
    right = spark.createDataFrame([Row(k=1, t=10, v=5.0)])
    out = asof_join(
        left, right, on="t", by="k", value_cols=["v"], tolerance=F.lit(50)
    ).collect()[0]
    assert out.v_r is None and out.t_r is None


def test_asof_join_equal_ts_right_dedup(spark):
    """Equal timestamps match inclusively; duplicate right rows at the
    same (by, on) resolve to the greatest tiebreak deterministically."""
    from hbasewd_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=1, t=10, lid=1)])
    right = spark.createDataFrame(
        [Row(k=1, t=10, v=1.0, rid=1), Row(k=1, t=10, v=2.0, rid=2)]
    )
    out = asof_join(
        left, right, on="t", by="k", value_cols=["v"], right_tiebreak="rid"
    ).collect()[0]
    assert out.v_r == 2.0  # rid=2 wins


# ---------------------------------------------------------------- rollup


def test_time_rollup_levels_consistent(spark, sf_dir):
    from hbasewd_spark.operators.rollup import time_rollup

    out = time_rollup(spark, sf_dir).cache()
    ev = load_table(spark, sf_dir, "events")
    # each resolution's totals must equal the raw table's totals
    for res in ["1m", "1h", "1d"]:
        level = out.where(F.col("resolution") == res)
        total_n = level.agg(F.sum("n")).collect()[0][0]
        assert total_n == ev.count()
    # hour buckets re-derived directly from raw must match the
    # hierarchical (minute -> hour) path bit-for-bit
    direct = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    hier = {
        (r.bucket_ts, r.event_type): r.n
        for r in out.where(F.col("resolution") == "1h").collect()
    }
    for r in direct:
        assert hier[(r.bucket_ts, r.event_type)] == r.n
    out.unpersist()


# ---------------------------------------------------------------- sampling


def test_deterministic_sample_nested_and_partition_independent(spark, sf_dir):
    from hbasewd_spark.operators.sampling import deterministic_sample

    ev = load_table(spark, sf_dir, "events")
    s1 = {r.event_id for r in deterministic_sample(ev, "event_id", 0.01).select("event_id").collect()}
    s10 = {r.event_id for r in deterministic_sample(ev, "event_id", 0.10).select("event_id").collect()}
    assert s1 <= s10, "smaller fraction must be a subset of the larger"
    n = ev.count()
    assert abs(len(s10) / n - 0.10) < 0.02
    # partitioning must not change membership
    s10b = {
        r.event_id
        for r in deterministic_sample(ev.repartition(17), "event_id", 0.10)
        .select("event_id")
        .collect()
    }
    assert s10 == s10b


# ---------------------------------------------------------------- PII


def test_pii_scrub_redacts_and_is_idempotent(spark):
    from hbasewd_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [Row(s="mail a.b+c@x-corp.io or ring +1 (415) 555-0117 now")]
    )
    e, p = pii_counts("s")
    row = df.select(
        scrub_pii("s").alias("clean"), e.alias("e"), p.alias("p")
    ).collect()[0]
    assert row.e == 1 and row.p == 1
    assert "@" not in row.clean and "555" not in row.clean
    assert "<EMAIL>" in row.clean and "<PHONE>" in row.clean
    again = df.select(scrub_pii(scrub_pii("s")).alias("c2")).collect()[0].c2
    assert again == row.clean  # idempotent: placeholders don't re-match


# ---------------------------------------------------------------- contamination


def test_contamination_reported_docs_share_grams(spark, sf_dir):
    from hbasewd_spark.operators.dedup import (
        CONTAM_EVAL_MOD,
        CONTAM_NGRAM,
        contamination_check,
    )
    from hbasewd_spark.functions.text import tokens

    out = contamination_check(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .collect()
    }

    def grams(toks):
        k = CONTAM_NGRAM
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    eval_grams = set()
    for did, toks in docs.items():
        if did % CONTAM_EVAL_MOD == 0:
            eval_grams |= grams(toks)
    for r in out:
        assert r.doc_id % CONTAM_EVAL_MOD != 0
        shared = grams(docs[r.doc_id]) & eval_grams
        assert len(shared) == r.n_contaminated


# ---------------------------------------------------------------- z-order


def test_zvalue16_interleave_matches_reference(spark):
    from hbasewd_spark.functions.codec import zvalue16

    def z(x, y):
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    cases = [(0, 0), (1, 0), (0, 1), (255, 3), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in cases])
    got = df.select("x", "y", zvalue16("x", "y").alias("zv")).collect()
    for r in got:
        assert r.zv == z(r.x, r.y), (r.x, r.y)
    # negative inputs fold with pmod (sign-preserving % would
    # interleave garbage): -1 ≡ 0xFFFF, -65536 ≡ 0
    neg = spark.createDataFrame([Row(x=-1, y=-65536)])
    r = neg.select(zvalue16("x", "y").alias("zv")).collect()[0]
    assert r.zv == z(0xFFFF, 0)


def test_zvalue16_preserves_quadrant_locality(spark):
    """Points in the same 2^8-quadrant share their high 16 z-bits."""
    from hbasewd_spark.functions.codec import zvalue16

    df = spark.createDataFrame(
        [Row(x=x, y=y) for x in [7, 200, 255] for y in [3, 128, 255]]
    )
    rows = df.select("x", "y", zvalue16("x", "y").alias("zv")).collect()
    for r in rows:
        assert (r.zv >> 16) == 0  # all coords < 256 -> z < 2^16


# ---------------------------------------------------------------- zone map


def test_zonemap_pruned_scan_exact_and_prunes_files(spark, sf_dir, tmp_path):
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    ev = load_table(spark, sf_dir, "events")
    # mimic incremental ingest: 4 time-sliced appends -> each salt
    # partition holds one file per batch covering ~1/4 of the ts range
    # (a one-shot bulk write gives one full-range file per salt: zone
    # maps are then correct but prune nothing — that's the compaction /
    # streaming-append layout this index is for)
    lo_hi = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1")).collect()[0]
    span = (lo_hi.t1 - lo_hi.t0) / 4
    path = str(tmp_path / "zm")
    for i in range(4):
        b_lo = lo_hi.t0 + i * span
        b_hi = lo_hi.t0 + (i + 1) * span if i < 3 else None
        chunk = ev.where(
            (F.col("ts") >= F.lit(b_lo))
            & ((F.col("ts") < F.lit(b_hi)) if b_hi else F.lit(True))
        )
        t = SaltedTable.write(
            chunk, path, HashDistributor(8), "ts",
            mode="overwrite" if i == 0 else "append",
        )
    t.refresh()
    bounds = ev.agg(
        (F.min("ts") + F.expr("INTERVAL '2' HOUR")).alias("lo"),
        (F.min("ts") + F.expr("INTERVAL '4' HOUR")).alias("hi"),
    ).collect()[0]
    zm = t.zone_map("ts").collect()
    keep = [r for r in zm if r.lo < bounds.hi and r.hi >= bounds.lo]
    assert len(keep) < len(zm), "a narrow range should prune some files"
    pruned = t.pruned_scan("ts", bounds.lo, bounds.hi)
    plain = ev.where((F.col("ts") >= bounds.lo) & (F.col("ts") < bounds.hi))
    assert pruned.count() == plain.count()
    got = {r.event_id for r in pruned.select("event_id").collect()}
    want = {r.event_id for r in plain.select("event_id").collect()}
    assert got == want


# ------------------------------------------------------- connected components


def test_connected_components_labels_min_id(spark):
    from hbasewd_spark.operators.graph import connected_components

    # two chains and a singleton-free isolated pair; includes a cycle
    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in [(1, 2), (2, 3), (3, 1), (9, 4), (4, 7), (20, 30)]]
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 7: 4, 9: 4, 20: 20, 30: 20}


def test_connected_components_long_path_converges(spark):
    """A 64-node path needs log-round doubling, not 64 iterations."""
    from hbasewd_spark.operators.graph import connected_components

    edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(63)])
    got = {r.id: r.cluster_id for r in connected_components(edges, max_iter=10).collect()}
    assert set(got.values()) == {0} and len(got) == 64


def test_dedup_clusters_transitive_and_canonical(spark, sf_dir):
    from hbasewd_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs

    out = dedup_clusters(spark, sf_dir).collect()
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    # every pair endpoint is clustered together
    pairs = minhash_dedup_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    for p in pairs:
        assert cluster_of[p.doc_a] == cluster_of[p.doc_b]
    # exactly one canonical doc per cluster
    canon = {}
    for r in out:
        if r.is_canonical:
            assert r.cluster_id not in canon
            canon[r.cluster_id] = r.doc_id
    assert set(canon) == set(cluster_of.values())


# ---------------------------------------------------------------- gap fill


def test_gapfill_spine_dense_and_locf(spark, sf_dir):
    from hbasewd_spark.queries import rel_ts_gapfill_locf

    out = rel_ts_gapfill_locf(spark, sf_dir)
    rows = out.where(F.col("event_type") == "error").orderBy("bucket_ts").collect()
    # spine is dense: consecutive minutes, no holes
    for a, b in zip(rows, rows[1:]):
        assert (b.bucket_ts - a.bucket_ts).total_seconds() == 60
    # gap rows exist (n == 0) and LOCF fills them from the left
    assert any(r.n == 0 for r in rows)
    last = None
    for r in rows:
        if r.n > 0:
            last = r.sum_value_locf
        elif last is not None:
            assert r.sum_value_locf == last


# ---------------------------------------------------------------- multimodal


def test_resize_media_exact_target_bytes(spark, sf_dir):
    from hbasewd_spark.operators.multimodal import media_df, resize_media

    out = resize_media(media_df(spark, sf_dir).limit(20), 16, 12).collect()
    assert len(out) == 20
    for r in out:
        assert isinstance(r.payload, (bytes, bytearray)) and len(r.payload) == 16 * 12
        assert r.width == 16 and r.height == 12


def test_resize_media_real_decoder_is_stubbed(spark, sf_dir):
    from hbasewd_spark.operators.multimodal import media_df, resize_media
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        resize_media(media_df(spark, sf_dir).limit(1), 8, 8, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_sample_frames_chunks_and_stride(spark, sf_dir):
    from hbasewd_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        media_df,
        sample_frames,
    )

    media = media_df(spark, sf_dir).limit(30)
    sizes = {r.doc_id: len(r.payload) for r in media.select("doc_id", "payload").collect()}
    frames = sample_frames(media).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, b in sizes.items():
        n_frames = (b + FRAME_BYTES - 1) // FRAME_BYTES
        want_idx = list(range(0, n_frames, FRAME_STRIDE))
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == want_idx
        for r in got:
            assert r.frame_bytes == min(FRAME_BYTES, b - r.frame_idx * FRAME_BYTES)


# ------------------------------------------------------ incremental rollup


def test_incremental_rollup_equals_batch_rollup(spark, sf_dir, tmp_path):
    """Stream events in 4 micro-batches through the continuous
    aggregate; the merged state must equal the batch minute rollup
    bit-for-bit (composable-measure exactness)."""
    from hbasewd_spark.streaming.ingest import incremental_rollup, read_rollup_state

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = incremental_rollup(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.bucket_ts, r.event_type): (r.n, r.sv, r.min_value, r.max_value)
        for r in read_rollup_state(spark, state).collect()
    }
    want = {
        (r.bucket_ts, r.event_type): (r.n, r.sv, r.min_value, r.max_value)
        for r in ev.groupBy(
            F.date_trunc("minute", "ts").alias("bucket_ts"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want


def test_incremental_rollup_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch's merge must
    not double-count. The epoch-snapshot chain makes a replay re-read
    the same pre-state and rewrite the same snapshot."""
    from hbasewd_spark.streaming.ingest import _rollup_merge_fn, read_rollup_state

    ev = load_table(spark, sf_dir, "events")
    batches = ev.randomSplit([1.0, 1.0, 1.0], seed=7)
    state = str(tmp_path / "state")
    merge = _rollup_merge_fn(state)
    for i, b in enumerate(batches):
        merge(b, i)
    want = sorted(
        map(tuple, read_rollup_state(spark, state).collect())
    )
    # crash-replay of the newest epoch, twice
    merge(batches[-1], len(batches) - 1)
    merge(batches[-1], len(batches) - 1)
    got = sorted(map(tuple, read_rollup_state(spark, state).collect()))
    assert got == want


# ------------------------------------------------------- chunking / packing


def test_chunk_documents_tiling_and_overlap(spark, sf_dir):
    """Chunks tile the token stream: starts advance by the stride,
    every token is covered, consecutive chunks overlap by
    window - stride tokens, and rejoining stride-prefixes + the last
    chunk reconstructs the document's token stream."""
    from hbasewd_spark.operators.chunking import (
        CHUNK_STRIDE,
        CHUNK_WINDOW,
        chunk_documents,
    )
    from hbasewd_spark.functions.text import tokens

    chunks = chunk_documents(spark, sf_dir)
    rows = chunks.orderBy("doc_id", "chunk_id").collect()
    toks = {
        r.doc_id: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .collect()
    }
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, rs in by_doc.items():
        stream = toks[doc_id]
        assert [r.chunk_id for r in rs] == list(range(len(rs)))
        assert [r.start_tok for r in rs] == [
            1 + i * CHUNK_STRIDE for i in range(len(rs))
        ]
        # coverage: last chunk reaches the end of the stream
        last = rs[-1]
        assert last.start_tok - 1 + last.n_tokens == len(stream)
        rebuilt: list = []
        for r in rs:
            ctoks = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(ctoks) == r.n_tokens <= CHUNK_WINDOW
            assert ctoks == stream[r.start_tok - 1 : r.start_tok - 1 + r.n_tokens]
            rebuilt = rebuilt[: r.start_tok - 1] + ctoks
        assert rebuilt == stream


def test_pack_sequences_invariants(spark, sf_dir):
    """Offsets stay under the budget, bins fill contiguously within a
    shard (prefix sums in doc_id order), and the assignment is a pure
    function of the data — identical under different parallelism."""
    from hbasewd_spark.operators.chunking import PACK_BUDGET, pack_sequences

    rows = pack_sequences(spark, sf_dir).orderBy("shard", "doc_id").collect()
    assert rows
    by_shard: dict = {}
    for r in rows:
        assert 0 <= r.bin_offset < PACK_BUDGET
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        prefix = 0
        for r in rs:
            assert r.bin == prefix // PACK_BUDGET
            assert r.bin_offset == prefix % PACK_BUDGET
            prefix += r.n_tokens
    repart = pack_sequences(spark, sf_dir).repartition(7).orderBy("shard", "doc_id")
    assert [tuple(r) for r in repart.collect()] == [tuple(r) for r in rows]


# ------------------------------------------------- secondary key index


def test_key_index_restores_pruned_point_get_under_roundrobin(spark, tmp_path):
    """Round-robin salting makes point gets fan out over every bucket
    (O4); the persistent key->salt index restores a single-partition
    read. Results match the fan-out path exactly, and the data-side
    plan carries a PartitionFilters entry on the indexed salt."""
    from hbasewd_spark.plans.distributor import RoundRobinDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable

    df = kv_df(spark)
    t = SaltedTable.write(
        df, str(tmp_path / "rr"), RoundRobinDistributor(12, order_col="write_seq"),
        "key_long",
    )
    t.build_key_index(index_buckets=8)
    k = KEY_PREFIX + 500
    want = [tuple(r) for r in t.point_get(k).collect()]
    got_df = t.point_get_indexed(k)
    got = [tuple(r) for r in got_df.collect()]
    assert got == want and len(got) == 1
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    import re

    # statically pruned data read: the salt literal from the index probe
    # appears as a partition filter on the main-table scan
    assert re.search(r"PartitionFilters: \[[^\]]*salt", plan), plan
    # a key missing from the index falls back to the fan-out scan
    # (an index probe can't distinguish "absent" from "appended after
    # the index was built") — a truly absent key still returns empty
    assert t.point_get_indexed(KEY_PREFIX - 10**9).count() == 0


def test_register_view_plain_sql_matches_scan(spark, tmp_path):
    """Plain SQL over the registered view == the typed scan, with the
    key predicate pushed into the parquet scan (row-group skipping in
    every salt bucket — the SQL-transparent fan-out)."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(
        kv_df(spark), str(tmp_path / "v"), HashDistributor(8), "key_long"
    )
    t.register_view("kv_sql")
    lo, hi = KEY_PREFIX + 100, KEY_PREFIX + 900
    q = spark.sql(
        f"SELECT key_long, val FROM kv_sql WHERE key_long >= {lo} AND key_long < {hi}"
    )
    got = sorted((r.key_long, r.val) for r in q.collect())
    want = sorted(
        (r.key_long, r.val)
        for r in t.scan(start=lo, stop=hi, ordered=False, columns=["key_long", "val"]).collect()
    )
    assert got == want and len(got) == 400
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(key_long), GreaterThanOrEqual(key_long" in plan
    assert "salt" not in q.columns


def test_scanner_heap_merge_matches_ordered_scan(spark, tmp_path):
    """scanner() must yield exactly the ordered-scan rows in key order
    WITHOUT a cluster-side range sort: each chunk's plan is
    Exchange-free (the range predicate pushed into the files, every
    bucket in one job), and the driver's run merge restores global
    order — DistributedScanner.java:106-139 semantics."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable

    t = SaltedTable.write(
        kv_df(spark), str(tmp_path / "hm"), HashDistributor(8), "key_long"
    )
    lo, hi = KEY_PREFIX + 100, KEY_PREFIX + 900
    want = [tuple(r) for r in t.scan(start=lo, stop=hi, ordered=True).collect()]
    got = [tuple(r) for r in t.scanner(start=lo, stop=hi)]
    assert got == want and len(got) == 400
    plan = (
        t._scanner_chunk_df(lo, hi)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Sort" not in plan and "Coalesce" not in plan, plan
    assert "PushedFilters: [IsNotNull(key_long), GreaterThanOrEqual(key_long" in plan


def test_scanner_capped_refill_bounds_skewed_bucket(spark, tmp_path):
    """VERDICT r11 #7: the reference's refill buffer is an unbounded
    ArrayList (DistributedScanner.java:123) — one dominant bucket
    balloons the client. scanner(max_buffer_rows=...) must (a) split a
    range whose rows sit 90% in one bucket into key-range chunks whose
    ACTUAL row counts stay within ~2x their target of cap x buckets
    rows (quantile cuts are estimates), and (b) chain them into the
    identical row stream the uncapped scanner yields."""
    from pyspark.sql import functions as F

    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    class SkewDistributor(HashDistributor):
        name = "skew90"

        def salt_expr(self, key):
            c = F.col(key) if isinstance(key, str) else key
            return (
                F.when(F.pmod(c, F.lit(10)) < 9, F.lit(0))
                .otherwise(F.lit(1))
                .cast("int")
            )

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t = SaltedTable.write(
        df, str(tmp_path / "skewcap"), SkewDistributor(2), "k",
        zone_map_cols=["k"],
    )
    cap = 500
    target = cap * t.distributor.buckets
    # (a) the range splits into ~target-row chunks; every chunk's REAL
    # row count is bounded near its target
    bounds = t._scanner_chunk_bounds(None, None, target)
    assert len(bounds) >= 10_000 // target - 2, bounds
    edges = [None] + bounds + [None]
    chunk_rows = [
        t._scanner_chunk_df(edges[i], edges[i + 1]).count()
        for i in range(len(edges) - 1)
    ]
    assert sum(chunk_rows) == 10_000
    assert max(chunk_rows) <= 2 * target, chunk_rows
    # (b) capped and uncapped streams are identical, bounded and not
    want = [tuple(r) for r in t.scanner()]
    got = [tuple(r) for r in t.scanner(max_buffer_rows=cap)]
    assert got == want and len(got) == 10_000
    lo, hi = 2_000, 7_000
    want_rng = [tuple(r) for r in t.scanner(start=lo, stop=hi)]
    got_rng = [tuple(r) for r in t.scanner(start=lo, stop=hi, max_buffer_rows=cap)]
    assert got_rng == want_rng and len(got_rng) == 5_000
    # chunk plans stay Exchange-free like the uncapped one
    plan = (
        t._scanner_chunk_df(bounds[0], bounds[1])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_indexed_point_get_detects_stale_index(spark, tmp_path):
    """An index built before an append must not silently drop the
    newer rows of an already-indexed key: under round-robin the
    re-append lands in an arbitrary salt the index doesn't know, so
    the data-file watermark forces the fan-out fallback."""
    from hbasewd_spark.plans.distributor import RoundRobinDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    dist = RoundRobinDistributor(6, order_col="write_seq")
    path = str(tmp_path / "stale")
    t = SaltedTable.write(kv_df(spark), path, dist, "key_long")
    t.build_key_index(index_buckets=4)
    k = KEY_PREFIX + 111
    assert t.point_get_indexed(k).count() == 1
    # re-append the same key (a later batch of the same stream)
    extra = kv_df(spark).where(F.col("key_long") == k)
    idempotent_salted_batch_write(extra, 99, path, dist, "key_long")
    t.refresh()
    # fan-out point_get sees both rows; the indexed path must too
    assert t.point_get(k).count() == 2
    assert t.point_get_indexed(k).count() == 2
    # rebuilding the index restores the pruned fast path
    t.build_key_index(index_buckets=4)
    t.refresh()
    assert t.point_get_indexed(k).count() == 2


def test_asof_join_randomized_differential(spark):
    """300x200 seeded random rows, heavy ts collisions (small value
    domains) — the union+window implementation must match the brute-
    force reference on every row, both directions, with tolerance."""
    import random

    rng = random.Random(20260813)
    lrows = [(rng.randint(1, 6), rng.randint(0, 50), i) for i in range(300)]
    rrows = [
        (rng.randint(1, 6), rng.randint(0, 50), float(i)) for i in range(200)
    ]
    # right-side ts ties: keep the max-value row per (k, t) like the
    # operator's documented dedup (latest writer wins deterministically)
    best = {}
    for k, t, v in rrows:
        best[(k, t)] = max(best.get((k, t), float("-inf")), v)
    rrows_dedup = [(k, t, v) for (k, t), v in best.items()]

    from pyspark.sql import Row

    from hbasewd_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=k, t=t, lid=i) for k, t, i in lrows])
    right = spark.createDataFrame([Row(k=k, t=t, v=v) for k, t, v in rrows_dedup])
    for direction in ("backward", "forward"):
        got = {
            r.lid: r.v_r
            for r in asof_join(
                left, right, on="t", by="k", value_cols=["v"], direction=direction
            ).collect()
        }
        exp = _brute_asof(lrows, rrows_dedup, direction)
        assert got == exp, f"direction={direction}"
        assert len(got) == len(lrows)


def test_compact_preserves_key_index(spark, tmp_path):
    """Nightly compaction must not destroy the secondary key index:
    rows never cross salt partitions during compaction, so the index
    stays valid and indexed point gets keep working afterwards."""
    from hbasewd_spark.plans.distributor import RoundRobinDistributor
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
    from hbasewd_spark.sources.salted_table import SaltedTable, compact

    t = SaltedTable.write(
        kv_df(spark), str(tmp_path / "c"),
        RoundRobinDistributor(6, order_col="write_seq"), "key_long",
    )
    t.build_key_index(index_buckets=4)
    k = KEY_PREFIX + 321
    before = [tuple(r) for r in t.point_get_indexed(k).collect()]
    compact(t)
    after = [tuple(r) for r in t.point_get_indexed(k).collect()]
    assert after == before and len(after) == 1
    import os

    assert os.path.isdir(str(tmp_path / "c" / SaltedTable.KEY_INDEX_DIR))


def test_connected_components_driver_and_distributed_paths_agree(spark):
    """The small-graph union-find fast path and the distributed
    label-propagation path are the same contract: identical
    (id, cluster_id=min id) output on a seeded random graph with
    self-loops, chains, and singleton-free structure."""
    import random

    from hbasewd_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)]
    edges += [(200, 201), (201, 202), (202, 203), (300, 300)]  # chain + loop
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast = {
        (r.id, r.cluster_id)
        for r in connected_components(df).collect()
    }
    dist = {
        (r.id, r.cluster_id)
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert fast == dist and fast


def test_ivf_index_prunes_partitions_and_matches_inmemory(spark, sf_dir, tmp_path):
    """The persisted IVF index makes the scale claim physical: a probe
    reads only the probed cells' partition directories (plan-asserted
    static pruning) and returns exactly the in-memory ivf_topk
    results."""
    import re

    from hbasewd_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_indexed,
        ivf_topk,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, path)
    got_df = ivf_probe_indexed(spark, sf_dir, path)
    got = {(r.query_id, r.rank): r.vec_id for r in got_df.collect()}
    want = {(r.query_id, r.rank): r.vec_id for r in ivf_topk(spark, sf_dir).collect()}
    assert got == want and got
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan


def test_trained_ivf_index_recall_and_balance(spark, sf_dir, tmp_path):
    """The production IVF path: k-means-trained centroids persisted
    with the index (O11 metadata), probes run against the persisted
    centroids, and recall@TOPK vs the exact brute-force baseline is
    >= 0.9 at NPROBE=4 with cells balanced enough that no probe is a
    table scan (max cell <= 3x the mean)."""
    from hbasewd_spark.operators.similarity import (
        TOPK,
        build_ivf_index,
        brute_topk,
        ivf_probe_indexed,
    )

    path = str(tmp_path / "ivf_trained")
    build_ivf_index(spark, sf_dir, path, train=True)
    brute = {}
    for r in brute_topk(spark, sf_dir).collect():
        brute.setdefault(r.query_id, set()).add(r.vec_id)
    ivf = {}
    for r in ivf_probe_indexed(spark, sf_dir, path).collect():
        ivf.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(ivf.get(q, set()) & s) / len(s) for q, s in brute.items()]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.9, recall
    sizes = [
        r["count"]
        for r in spark.read.parquet(path).groupBy("cell").count().collect()
    ]
    assert max(sizes) <= 3 * (sum(sizes) / len(sizes)), sorted(sizes)


def test_split_assign_column_matches_sql_and_partitions(spark, sf_dir):
    """The Column-API split and the SQL twin agree row-for-row; splits
    are disjoint, exhaustive, roughly 90/5/5, and partitioning-stable."""
    from hbasewd_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id: r.s for r in docs.select("doc_id", split_assign("doc_id").alias("s")).collect()}
    b = {
        r.doc_id: r.s
        for r in docs.repartition(13)
        .select("doc_id", split_assign("doc_id").alias("s"))
        .collect()
    }
    assert a == b and set(a.values()) <= {"train", "val", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert abs(train / n - 0.9) < 0.05
