"""bench.py headline-mode contract tests (VERDICT r3 item 5).

Round 3 lost all 29 timings because one query threw at position 8 and
nothing after it ran — the driver recorded BENCH_r03 as rc=1 with zero
numbers. The contract now under test: a deliberately-broken query is
recorded as ``{"err": ...}`` and every other query still gets a timing;
the single JSON line ALWAYS prints. Each timed call also gets a row in
the PROFILE_sf<sf>.json sidecar, and a status store that cannot be read
costs the profile rows, never a timing.
"""

import json

import pytest

from perfbench.spans import STAGE_FIELDS


def test_bench_isolates_a_broken_query(spark, sf_dir, monkeypatch, capsys, tmp_path):
    import bench
    from hbasewd_spark import queries as Q

    def boom(spark, sf_dir):
        raise RuntimeError("deliberately broken for fault-isolation test")

    # break one mid-suite query; bench must still time all the others
    monkeypatch.setattr(Q.REGISTRY["ext_text_stats"], "fn", boom)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    # the profile sidecar lands here, not over the committed one
    monkeypatch.setattr(bench, "SIDECAR_DIR", str(tmp_path))

    bench.main()

    out = capsys.readouterr().out.strip().splitlines()
    payload = json.loads(out[-1])  # the contract: last stdout line is JSON
    assert payload["metric"] == "headline_suite_seconds"
    qs = payload["queries"]
    assert qs["text_stats"] == {"err": "RuntimeError: deliberately broken for fault-isolation test"}
    assert payload["n_errors"] == 1
    timed = {k: v for k, v in qs.items() if not isinstance(v, dict)}
    # every headline query except the one broken one got a timing
    assert len(timed) == len(qs) - 1
    assert len(timed) >= 28
    assert all(isinstance(v, float) and v >= 0 for v in timed.values())
    assert payload["value"] == pytest.approx(sum(timed.values()), abs=0.1)

    # one profile row per timed call, each with the call's stage totals,
    # job count and driver-only time; none for the broken query
    (side,) = tmp_path.glob("PROFILE_sf*.json")
    rows = json.loads(side.read_text())["profile"]
    assert set(rows) == set(timed)
    for row in rows.values():
        assert {"s", "jobs", "driver_only_ms", *STAGE_FIELDS} <= set(row)
    assert rows["q1_pricing"]["jobs"] >= 1
    assert rows["q1_pricing"]["input_bytes"] > 0
    # the stream's micro-batch runs under its run id's job group, and
    # only it reads the events files: the call's own jobs read none
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert rows["stream_window_agg"]["jobs"] >= 1
    assert rows["stream_window_agg"]["input_rows"] >= n_events


def test_bench_times_everything_without_a_status_store(spark, sf_dir, monkeypatch, capsys, tmp_path):
    import bench

    def unreadable(spark):
        raise RuntimeError("status store unavailable")

    monkeypatch.setattr(bench.spans, "StatusStore", unreadable)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "SIDECAR_DIR", str(tmp_path))

    bench.main()

    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "n_errors" not in payload
    qs = payload["queries"]
    assert len(qs) >= 28
    assert all(isinstance(v, float) and v >= 0 for v in qs.values())
    # the sidecar degrades to wall-clock seconds
    (side,) = tmp_path.glob("PROFILE_sf*.json")
    rows = json.loads(side.read_text())["profile"]
    assert {k: r["s"] for k, r in rows.items()} == qs
