"""PageRank (operators/graph.py) — structural properties the oracle
gate can't see: mass conservation, symmetry, dangling redistribution,
and partitioning-independence of the fixed-point arithmetic."""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.operators.graph import (
    PR_SCALE,
    _event_transition_graph,
    _pr_iteration,
    pagerank,
    pagerank_event_transitions,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src int, dst int, w bigint")


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node int")


def _ranks(df) -> dict:
    return {r["node"]: r["rank_e9"] for r in df.collect()}


def test_cycle_is_uniform(spark):
    # a 4-cycle is vertex-transitive: every node must get the same rank,
    # and the total mass must stay within floor-loss of PR_SCALE
    e = _edges(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 0, 1)])
    r = _ranks(pagerank(e, _nodes(spark, range(4)), iters=3))
    assert len(set(r.values())) == 1
    total = sum(r.values())
    assert PR_SCALE - 100 <= total <= PR_SCALE


def test_star_center_dominates(spark):
    # all spokes point at the hub: hub rank must exceed every spoke
    e = _edges(spark, [(i, 0, 1) for i in range(1, 6)])
    r = _ranks(pagerank(e, _nodes(spark, range(6)), iters=3))
    assert r[0] > max(v for k, v in r.items() if k != 0)
    # spokes are symmetric
    assert len({v for k, v in r.items() if k != 0}) == 1


def test_dangling_mass_redistributed(spark):
    # node 1 has no out-edges; its mass must not vanish — total stays
    # within floor-loss of PR_SCALE (each iteration floors at most
    # N + |E| + 1 units)
    e = _edges(spark, [(0, 1, 1)])
    r = _ranks(pagerank(e, _nodes(spark, range(2)), iters=3))
    assert sum(r.values()) >= PR_SCALE - 50
    # the sink (receives 0's mass AND dangling share) outranks the source
    assert r[1] > r[0]


def test_isolated_node_keeps_base_mass(spark):
    # node 2 is isolated (no in- or out-edges): it still receives
    # base + dangling share, never zero
    e = _edges(spark, [(0, 1, 2), (1, 0, 1)])
    r = _ranks(pagerank(e, _nodes(spark, range(3)), iters=3))
    assert r[2] > 0
    assert r[0] > r[2] and r[1] > r[2]


def test_weights_shift_rank(spark):
    # 0 sends 9/10 of its mass to 1 and 1/10 to 2: rank(1) > rank(2)
    e = _edges(spark, [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)])
    r = _ranks(pagerank(e, _nodes(spark, range(3)), iters=3))
    assert r[1] > r[2]


def test_partitioning_independence(spark):
    # fixed-point integer arithmetic must be bit-identical under any
    # physical partitioning of the edge list
    rows = [(i % 7, (i * 3) % 7, 1 + i % 4) for i in range(40)]
    n = _nodes(spark, range(7))
    a = _ranks(pagerank(_edges(spark, rows).repartition(1), n, iters=3))
    b = _ranks(pagerank(_edges(spark, rows).repartition(13), n, iters=3))
    assert a == b


def test_empty_node_set(spark):
    e = _edges(spark, []).where(F.lit(False))
    out = pagerank(e, _nodes(spark, []), iters=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_e9"]


@pytest.mark.parametrize("iters", [1, 3])
def test_event_transition_query_shape(spark, sf_dir, iters):
    # the extracted transition graph under a PARAMETERIZED iteration
    # count (ADVICE r11: the old form never threaded iters through, so
    # both cases ran identical code): one row per observed props.k,
    # ranks positive, mass conserved within floor loss
    edges, nodes = _event_transition_graph(spark, sf_dir)
    rows = pagerank(edges, nodes, iters=iters).collect()
    assert len(rows) > 0
    total = sum(r["rank_e9"] for r in rows)
    assert total <= PR_SCALE
    assert total >= PR_SCALE - 10_000  # floor losses only
    assert all(r["rank_e9"] > 0 for r in rows)
    # and the registry wrapper (hardcoded iters=3) agrees with the
    # threaded call at 3 iterations
    if iters == 3:
        assert {r["node"]: r["rank_e9"] for r in rows} == _ranks(
            pagerank_event_transitions(spark, sf_dir)
        )


def test_driver_and_distributed_paths_agree(spark):
    # the scale-adaptive switch must be invisible in results: force the
    # distributed loop (threshold 0) and compare bit-for-bit with the
    # driver numpy path on a graph with dangling + isolated structure
    rows = [(i % 9, (i * 5) % 9, 1 + i % 3) for i in range(30)]
    e = _edges(spark, rows)
    n = _nodes(spark, range(11))  # 9 and 10 isolated
    a = _ranks(pagerank(e, n, iters=3))
    b = _ranks(pagerank(e, n, iters=3, small_graph_edges=0))
    assert a == b


def test_int_weight_column_does_not_overflow(spark):
    # ADVICE r11 (medium): the distributed edge-probability expression
    # multiplied an un-widened weight by the int literal 1e9 — any
    # IntegerType weight >= 3 wrapped int32 silently. Weights here are
    # int-typed and >= 3; the distributed path must match the driver
    # path (which always widened) bit for bit.
    rows = [(i % 5, (i * 2 + 1) % 5, 3 + i % 7) for i in range(20)]
    e = spark.createDataFrame(rows, "src int, dst int, w int")
    n = _nodes(spark, range(5))
    a = _ranks(pagerank(e, n, iters=3))  # driver path (casts internally)
    b = _ranks(pagerank(e, n, iters=3, small_graph_edges=0))
    assert a == b
    assert all(v > 0 for v in b.values())
    assert PR_SCALE - 100 <= sum(b.values()) <= PR_SCALE


def test_large_v_shuffle_path_bit_identical(spark):
    # VERDICT r11 #1: above broadcast_nodes_max the rank relation must
    # reach the edge join as a shuffle join — force the regime
    # (both thresholds 0) and assert bit-identical ranks vs the driver
    # path on a graph with dangling + isolated + weighted structure
    rows = [(i % 9, (i * 5) % 9, 1 + i % 3) for i in range(30)]
    e = _edges(spark, rows)
    n = _nodes(spark, range(11))
    a = _ranks(pagerank(e, n, iters=3))
    b = _ranks(
        pagerank(e, n, iters=3, small_graph_edges=0, broadcast_nodes_max=0)
    )
    assert a == b


def test_large_graph_result_survives_operand_release(spark):
    # the big-graph path pins e/nodes/srcs, iterates through lazy
    # checkpoints and releases the pinned operands before returning:
    # the ranks must already be materialized at that release, so the
    # consumer reads checkpointed blocks and never recomputes the edge
    # relation (every evaluation of the edge source bumps an
    # accumulator here)
    seen = spark.sparkContext.accumulator(0)

    def count_row(w):
        seen.add(1)
        return w

    rows = [(i % 9, (i * 5) % 9, 1 + i % 3) for i in range(30)]
    e = _edges(spark, rows).withColumn("w", F.udf(count_row, "bigint")("w"))
    n = _nodes(spark, range(11))
    out = pagerank(e, n, iters=3, small_graph_edges=0, broadcast_nodes_max=0)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    rdds = [leaves.apply(i).rdd() for i in range(leaves.size())]
    assert rdds and all(r.isCheckpointedAndMaterialized() for r in rdds)
    before = seen.value
    got = _ranks(out)
    assert seen.value == before, "the consumer recomputed the edge relation"
    assert got == _ranks(pagerank(_edges(spark, rows), n, iters=3))


def test_large_v_iteration_plan_has_no_rank_broadcast(spark):
    # the big_v iteration body must contain NO BroadcastHashJoin — the
    # |V|-row rank relation joins via shuffle; the only broadcast left
    # is the 1-row dangling aggregate (BroadcastNestedLoopJoin). The
    # small regime keeps the broadcast (asserted as the control so this
    # test fails loudly if the plan probe itself goes blind).
    e = spark.createDataFrame(
        [(0, 1, 10**9), (1, 2, 10**9), (2, 0, 10**9)], "src int, dst int, p bigint"
    )
    nodes = _nodes(spark, range(3))
    r = nodes.select("node", F.lit(PR_SCALE // 3).cast("bigint").alias("r"))
    srcs = e.select("src").distinct()
    big = _pr_iteration(e, r, srcs, nodes, base=1, n_nodes=3, big_v=True)
    assert "BroadcastHashJoin" not in _plan(big)
    small = _pr_iteration(e, r, srcs, nodes, base=1, n_nodes=3, big_v=False)
    assert "BroadcastHashJoin" in _plan(small)


def test_large_v_edge_relation_not_reshuffled(spark):
    # the big_v contract that makes the shuffle join scale: the edge
    # relation is repartitioned by src ONCE (pinned by localCheckpoint),
    # so the per-iteration contribution join must exchange ONLY the
    # rank side — no Exchange may appear on the edge input
    e = (
        spark.createDataFrame(
            [(i % 7, (i * 3) % 7, 10**8) for i in range(40)],
            "src int, dst int, p bigint",
        )
        .repartition("src")
        .persist()
    )
    nodes = _nodes(spark, range(7)).repartition("node").persist()
    r = nodes.select("node", F.lit(PR_SCALE // 7).cast("bigint").alias("r"))
    srcs = e.select("src").distinct().persist()
    # materialize: an un-executed cached adaptive plan reports unknown
    # partitioning — this is exactly what pagerank() does pre-loop
    srcs.count()
    nodes.count()
    try:
        plan = _plan(
            _pr_iteration(e, r, srcs, nodes, base=1, n_nodes=7, big_v=True)
        )
        # every hash-partitioning exchange in the EXECUTABLE plan keys
        # on the rank/node/dst side; none re-shuffles the persisted
        # edge/src relations' src column (their cached partitioning is
        # reused). Finalized cached subplans also print their
        # historical "== Initial Plan ==" sections (which legitimately
        # contain the one-time REPARTITION_BY_COL build exchanges) —
        # strip those by indentation before asserting.
        import re

        live_lines, skip_indent = [], None
        for line in plan.splitlines():
            indent = len(line) - len(line.lstrip())
            if skip_indent is not None:
                if indent > skip_indent:
                    continue
                skip_indent = None
            if "== Initial Plan ==" in line:
                skip_indent = indent
                continue
            live_lines.append(line)
        live = "\n".join(live_lines)
        # REPARTITION_BY_COL src exchanges are the cached relations'
        # one-time builds; what must NOT exist is a planner-inserted
        # (ENSURE_REQUIREMENTS) re-shuffle of src feeding the joins
        ensure = re.findall(
            r"Exchange hashpartitioning\((\w+)#\d+, \d+\), ENSURE_REQUIREMENTS",
            live,
        )
        assert "src" not in ensure, live
        # the contribution aggregation DOES exchange by dst — the
        # probe is not blind (in the real loop the checkpointed rank
        # relation exchanges too; here it derives straight from the
        # cached nodes, so even that shuffle vanishes)
        assert "dst" in ensure, live
    finally:
        for df in (e, nodes, srcs):
            df.unpersist()


def test_null_k_events_are_filtered(spark, tmp_path):
    # ADVICE r11: an events row whose props lacks $.k used to put NULL
    # in the node set — the driver path crashed, the distributed path
    # silently dropped transitions. Extraction now filters the row from
    # the sequence; the graph and ranks come out NULL-free.
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0 + datetime.timedelta(minutes=m), m, f'{{"k": {m % 3}}}' if m % 4 else "{}")
        for m in range(40)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, props string"
    )
    sf = str(tmp_path / "nullk")
    ev.write.parquet(f"{sf}/events.parquet")
    edges, nodes = _event_transition_graph(spark, sf)
    node_vals = [r["node"] for r in nodes.collect()]
    assert None not in node_vals and sorted(node_vals) == [0, 1, 2]
    assert edges.where(F.col("src").isNull() | F.col("dst").isNull()).count() == 0
    ranks = _ranks(pagerank_event_transitions(spark, sf))
    assert None not in ranks
    assert PR_SCALE - 100 <= sum(ranks.values()) <= PR_SCALE


def test_rewritten_events_change_pagerank_ranks(spark, tmp_path):
    # the edge relation lives and dies with the query, so rewriting
    # events.parquet under the same path changes the ranks. The file is
    # written outside Spark: a Spark overwrite would refresh any cached
    # plan that reads the path and hide a path-keyed cache.
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbasewd_spark import queries as Q

    t0 = datetime.datetime(2024, 1, 1)

    def write_events(sf, ks):
        os.makedirs(sf, exist_ok=True)
        pq.write_table(
            pa.table({
                "user_id": pa.array([1] * len(ks), pa.int64()),
                "ts": pa.array([t0 + datetime.timedelta(minutes=m) for m in range(len(ks))], pa.timestamp("us")),
                "event_id": pa.array(range(len(ks)), pa.int64()),
                "props": [f'{{"k": {k}}}' for k in ks],
            }),
            os.path.join(sf, "events.parquet"),
        )

    query = Q.REGISTRY["ext_graph_pagerank"].fn
    sf, fresh = str(tmp_path / "events_sf"), str(tmp_path / "fresh_sf")
    write_events(sf, [m % 3 for m in range(30)])  # a 3-cycle: uniform ranks
    before = _ranks(query(spark, sf))
    star = [0 if m % 2 else 1 + (m // 2) % 2 for m in range(30)]  # every hop passes node 0
    write_events(sf, star)
    write_events(fresh, star)
    after = _ranks(query(spark, sf))
    assert after == _ranks(query(spark, fresh))
    assert after != before
    assert after[0] > after[1]
