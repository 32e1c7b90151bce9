"""bench.py registry mode: registry queries timed as spans, with the
DataFrame build inside the timed call.

Each query runs once untimed, then its row carries its ``build`` and
``exec`` child spans, the fastest of ``--reps`` reps, and with
``--plans`` the formatted plan's structural counts. ``--reps 0`` builds
once without executing. A stream's
micro-batch jobs run under its run id's job group and still count.
"""

import contextlib
import io
import json
import re

import pytest

import bench

QUERIES = ["o9_ordered_range_scan", "rel_join_broadcast", "stream_windowed_agg"]


def _rows(sf_dir, argv) -> dict:
    out = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(out):
        mp.setattr(bench, "SF_DIR", sf_dir)
        assert bench.main(argv) == 0
    rows = [json.loads(line) for line in out.getvalue().splitlines()]
    return {r.pop("query"): r for r in rows}


@pytest.fixture(scope="module")
def plans(tmp_path_factory):
    return tmp_path_factory.mktemp("plans")


@pytest.fixture(scope="module")
def rows(spark, sf_dir, plans):
    return _rows(sf_dir, ["--registry", ",".join(QUERIES), "--reps", "2", "--plans", str(plans)])


def test_build_and_exec_are_child_spans(rows):
    # the build runs a bounds collect and the salted write; the noop
    # sink then scans the written table
    o9 = rows["o9_ordered_range_scan"]
    assert o9["build"]["jobs"] >= 1
    assert o9["exec"]["jobs"] >= 1
    assert o9["jobs"] == o9["build"]["jobs"] + o9["exec"]["jobs"]
    assert o9["s"] >= o9["build"]["s"] + o9["exec"]["s"] - 0.002


def test_reports_the_fastest_rep(rows):
    assert set(rows) == set(QUERIES)
    for row in rows.values():
        assert len(row["reps_s"]) == 2
        assert row["s"] == min(row["reps_s"])


def test_plans_are_written_with_their_structural_counts(rows, plans):
    assert sorted(p.name for p in plans.iterdir()) == sorted(f"{q}.txt" for q in QUERIES)
    plan = (plans / "rel_join_broadcast.txt").read_text()
    row = rows["rel_join_broadcast"]
    assert "BroadcastHashJoin" in row["joins"]
    assert re.search(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert row["scans"] == len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) >= 2
    assert row["exchanges"] == len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert row["python_nodes"] == []


def test_stream_counts_its_micro_batch(rows, spark, sf_dir):
    # the query's build drains the stream; only its micro-batch reads
    # the events files, under the stream's own job group
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert rows["stream_windowed_agg"]["build"]["input_rows"] >= n_events


def test_reps_zero_builds_without_executing(rows, sf_dir):
    (row,) = _rows(sf_dir, ["--registry", "rel_join_broadcast", "--reps", "0"]).values()
    assert "exec" not in row
    # the only jobs are the build's parquet schema reads (one per
    # table read), which read no rows and shuffle nothing
    assert row["jobs"] == row["build"]["jobs"] == rows["rel_join_broadcast"]["build"]["jobs"]
    assert row["input_rows"] == row["shuffle_write_bytes"] == 0


def test_each_query_runs_once_untimed_before_its_reps(sf_dir):
    from hbasewd_spark import queries as Q

    name = "rel_join_broadcast"
    spec = Q.REGISTRY[name]
    calls = []

    def counted(spark, sf):
        calls.append(sf)
        return spec.fn(spark, sf)

    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(Q.REGISTRY, name, Q.QuerySpec(counted, spec.oracle, spec.doc))
        (row,) = _rows(sf_dir, ["--registry", name, "--reps", "2"]).values()
        assert len(calls) == 3
        assert len(row["reps_s"]) == 2
        calls.clear()
        _rows(sf_dir, ["--registry", name, "--reps", "0"])
        assert len(calls) == 1


def test_bad_arguments_are_refused():
    for argv in (["--registry", "no_such_query"], ["--reps", "2"], ["--registry", "all", "--reps", "-1"]):
        with pytest.raises(SystemExit):
            bench.parse_args(argv)
