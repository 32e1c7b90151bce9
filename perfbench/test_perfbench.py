"""Tests that pin the benchmark's measurement traps.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout (the Spark tests import hbasewd_spark).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run as runner  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, busy_ms  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    runner.pin_host(runner.host(), str(tmp_path_factory.mktemp("run")))
    from hbasewd_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    d = str(tmp_path_factory.mktemp("kv"))
    path = gen.kv_read_inputs(os.path.join(d, "in"), 5, 3_000)
    t = SaltedTable.write(
        spark.read.parquet(os.path.join(path, "events")), os.path.join(d, "t"), HashDistributor(4), "ts",
        zone_map_cols=["ts"],
    )
    return t, gen.EventsRef(np.load(os.path.join(path, "ts_offsets.npy")))


# ----------------------------------------------------------- pure Python


def test_generators_are_seeded(tmp_path):
    a = gen.kv_write_inputs(str(tmp_path / "a"), 7, 500, 2, 100)
    b = gen.kv_write_inputs(str(tmp_path / "b"), 7, 500, 2, 100)
    c = gen.kv_write_inputs(str(tmp_path / "c"), 8, 500, 2, 100)
    read = lambda p: pq.read_table(os.path.join(p, "backlog")).to_pylist()  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert gen.corpus_docs(3, 50).equals(gen.corpus_docs(3, 50))
    assert not gen.corpus_docs(3, 50).equals(gen.corpus_docs(4, 50))


def test_generated_keys_leave_room_for_absent_probes(tmp_path):
    p = gen.kv_read_inputs(str(tmp_path / "r"), 1, 20_000)
    offs = np.load(os.path.join(p, "ts_offsets.npy"))
    assert (np.diff(offs) >= 2).all()
    ref = gen.EventsRef(offs)
    assert ref.range_of(int(offs[10]) + 1, int(offs[11])) == (0, 0)
    assert ref.range_of(int(offs[10]), int(offs[12])) == (2, int(offs[10] + offs[11]))


def test_warmup_calls_are_not_timed():
    run = W.Run(None, Tracer(None, "t", False), 1, 0.0, "", lambda m: None)
    run.timed = False
    run.call("op", lambda: 1, lambda x: [x])
    assert run.calls == []
    with pytest.raises(RuntimeError):
        run.call("op", lambda: 1, lambda x: 1 / 0)
    run.timed = True
    run.begin_timed()
    run.call("op", lambda: 1, lambda x: [x])
    run.call("op", lambda: 1, lambda x: [x], check=lambda out: W.expect(False, "wrong"))
    assert [c.ok for c in run.calls] == [True, False]
    assert len(run.probes) == 2  # the host-speed probe runs before timed calls only


def test_busy_time_is_the_union_of_intervals():
    rows = [{"start_ms": a, "end_ms": b} for a, b in ((0, 10), (5, 20), (30, 40), (35, None))]
    assert busy_ms(rows, 0, 50) == 20 + 20
    assert busy_ms(rows, 8, 32) == 12 + 2


def test_every_dedup_iteration_gets_a_new_corpus_path(tmp_path):
    wl = W.CorpusDedup()
    wl.inputs(str(tmp_path), 1)
    seen = {wl.corpus}
    wl.next_corpus()
    assert wl.corpus not in seen and wl.warm not in seen | {wl.corpus}


# ------------------------------------------------------------------ Spark


def test_count_skips_the_order_restore(spark, table):
    """An ordered scan's cost is only timed when the consumer keeps the
    order: under count() the optimizer drops the Sort."""
    t, ref = table
    lo, hi = int(ref.offsets[100]), int(ref.offsets[1_000])
    df = t.scan(W.ts_of(lo), W.ts_of(hi), ordered=True)
    plan = lambda d: d._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    assert "Sort" not in plan(df.groupBy().count())
    assert "Sort" in plan(df.select("ts"))
    W.range_check(ref, lo, hi)(W.ordered_ts(df))


def test_stage_numbers_stay_with_their_call(spark):
    """Each span reads the stages of its own job group, not a diff of
    store totals: jobs before, between and after spans are not counted."""
    tr = Tracer(spark, "adjacency", True)
    run = lambda parts: spark.range(0, 100, numPartitions=parts).rdd.foreach(lambda _: None)  # noqa: E731
    run(7)
    with tr.span("a") as a:
        run(3)
    run(11)
    with tr.span("b") as b:
        with tr.span("b/exec"):
            run(5)
            run(2)
    run(13)
    tr.collect()
    assert tr.call_stats(a)["tasks"] == 3 and tr.call_stats(a)["jobs"] == 1
    assert tr.call_stats(b)["tasks"] == 7 and tr.call_stats(b)["jobs"] == 2
    assert tr.self_ms(b) < b.ms


def test_a_reused_corpus_path_is_served_from_the_cache(spark, tmp_path):
    """The dedup frames are cached per (session, corpus path): rewriting
    the corpus under the same path returns the earlier result, which is
    why every timed iteration reads a fresh path."""
    from hbasewd_spark.operators import dedup as DD

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    pq.write_table(gen.corpus_docs(1, 200), os.path.join(d, "documents.parquet"))
    try:
        first = DD.minhash_dedup_pairs(spark, d)
        n = first.count()
        pq.write_table(gen.corpus_docs(2, 50, dup_share=0.0), os.path.join(d, "documents.parquet"))
        again = DD.minhash_dedup_pairs(spark, d)
        assert again is first and again.count() == n
    finally:
        DD.clear_dedup_caches()


def test_jobs_started_after_a_span_closes_still_count(spark, table):
    """The scanner's per-bucket iterators submit jobs from other threads,
    some after the build span has closed; they carry its job group and
    are read once the run is over."""
    t, ref = table
    run = W.Run(spark, Tracer(spark, "scanner", True), 1, 0.0, "", print)
    run.begin_timed()
    lo, hi = int(ref.offsets[0]), int(ref.offsets[-1]) + 1
    c = run.call("scanner", lambda: t.scanner(W.ts_of(lo), W.ts_of(hi)), lambda it: [r["ts"] for r in it])
    assert c.ok and c.rows == len(ref.offsets)
    run.tracer.collect()
    assert run.tracer.call_stats(c.span)["jobs"] >= t.distributor.buckets
