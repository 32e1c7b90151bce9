"""Driver stdout-contract size guard (VERDICT r9 item #1).

Round 9 appended the per-query ``shuffle_bytes`` audit to the single
stdout JSON line; at 45 queries that grew the line to 4,841 chars —
past the driver's ~2,000-char tail-capture window — and the round's
bench was recorded as ``parsed: null``. The contract pinned here:
``bench.build_payload`` stays under 1800 serialized chars for a
full-sized suite, with or without errors, and ``shuffle_bytes`` never
appears on the line (per-call bytes go to the per-scale PROFILE_sf<sf>.json
sidecar).

No Spark session needed — these are pure payload-shape tests.
"""

import json

import bench


def _fake_timings(n):
    # realistic worst-width floats: 3 decimals, up to tens of seconds
    return {f"query_name_number_{i:02d}": round(0.123 + i * 0.91, 3) for i in range(n)}


def test_full_suite_payload_under_tail_window():
    timings = _fake_timings(45)
    payload = bench.build_payload(round(sum(timings.values()), 3), timings, {}, "0.1")
    line = json.dumps(payload)
    assert len(line) < 1800, f"stdout line {len(line)} chars would blind the driver"
    assert "shuffle_bytes" not in payload


def test_payload_with_errors_stays_bounded():
    timings = _fake_timings(40)
    errors = {
        f"broken_query_{i}": "AnalysisException: " + "x" * 280 for i in range(5)
    }
    payload = bench.build_payload(round(sum(timings.values()), 3), timings, errors, "0.1")
    line = json.dumps(payload)
    assert len(line) < 1800
    assert payload["n_errors"] == 5
    # error messages are truncated, not dropped, at this error count
    assert all(isinstance(payload["queries"][k], dict) for k in errors)


def test_catastrophic_error_run_degrades_but_parses():
    # every query errors: the payload must degrade (names/counts only)
    # rather than exceed the window — a lean parsed line beats a rich
    # unparsed one
    errors = {f"query_name_number_{i:02d}": "Py4JJavaError: " + "y" * 290 for i in range(45)}
    payload = bench.build_payload(0.0, {}, errors, "0.01")
    line = json.dumps(payload)
    assert len(line) < 1800
    assert payload["n_errors"] == 45
    json.loads(line)  # round-trips


def test_sf_field_is_numeric_when_numeric():
    payload = bench.build_payload(1.0, {"a": 1.0}, {}, "0.01")
    assert payload["sf"] == 0.01


def test_noise_probe_fields_on_the_line_and_bounded():
    # VERDICT r12 #1: the host-noise probe ratios ride the stdout line
    # so a contention-contaminated record is machine-detectable. Full
    # suite + probe fields must still clear the tail window.
    timings = _fake_timings(50)
    noise = {"mem_probe_s": 0.64, "alu_probe_s": 0.28,
             "mem_inflation": 2.0, "alu_inflation": 1.56}
    payload = bench.build_payload(
        round(sum(timings.values()), 3), timings, {}, "0.1", noise
    )
    assert payload["probe_mem_x"] == 2.0
    assert payload["probe_alu_x"] == 1.56
    assert len(json.dumps(payload)) < 1800
    # a failed probe (empty dict / None) must not add fields or crash
    for bad in ({}, None):
        p2 = bench.build_payload(1.0, {"a": 1.0}, {}, "0.1", bad)
        assert "probe_mem_x" not in p2 and "probe_alu_x" not in p2


def test_error_free_oversize_suite_trims_instead_of_blinding():
    # the r10 review gap: the degrade tiers only engaged when errors
    # existed, so an error-free suite that simply GREW (34 -> 45
    # queries across r6-r10, and counting) would print an unparseable
    # line with zero errors. The backstop must be size-alone.
    timings = _fake_timings(90)
    payload = bench.build_payload(round(sum(timings.values()), 3), timings, {}, "0.1")
    line = json.dumps(payload)
    assert len(line) < 1800, f"stdout line {len(line)} chars would blind the driver"
    # the slowest queries survive the trim; the omission is declared
    assert payload["queries_trimmed"] == 90 - len(payload["queries"])
    kept = set(payload["queries"])
    dropped = set(timings) - kept
    assert max(timings[q] for q in dropped) <= min(timings[q] for q in kept)
    json.loads(line)  # round-trips
