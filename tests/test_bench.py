"""bench.py contract tests (VERDICT r3 item 5).

Round 3 lost all 29 timings because one query threw at position 8 and
nothing after it ran — the driver recorded BENCH_r03 as rc=1 with zero
numbers. The contract now under test: a deliberately-broken query is
recorded as ``{"err": ...}`` and every other query still gets a timing;
the single JSON line ALWAYS prints.
"""

import json

import pytest


def test_bench_isolates_a_broken_query(spark, sf_dir, monkeypatch, capsys, tmp_path):
    import bench
    from hbasewd_spark import queries as Q

    def boom(spark, sf_dir):
        raise RuntimeError("deliberately broken for fault-isolation test")

    # break one mid-suite query; bench must still time all the others
    monkeypatch.setattr(Q.REGISTRY["ext_text_stats"], "fn", boom)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    # the shuffle audit sidecar lands here, not over the committed one
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
