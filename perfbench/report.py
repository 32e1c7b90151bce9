"""Metrics of a finished run.

End-to-end metrics come from untraced runs; per-layer metrics from a
traced run's spans. Every workload reports every metric of its kind: a
layer a workload never calls reports 0 there. BENCHMARK.json lists the
same names, units and directions.
"""

from __future__ import annotations

import json
import math
import statistics
import time

_READ_OPS = ("point_get", "multi_get", "scan", "scan_merged", "fast_count")
_READ_FIELDS = {
    "build_ms": "ms",
    "exec_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "input_bytes": "bytes",
    "driver_only_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "distributor.salt_rows_max_over_mean": "ratio",
    **{f"salted_table.{op}.{f}": u for op in _READ_OPS for f, u in _READ_FIELDS.items()},
    **{f"salted_table.{op}.{f}": u for op in ("scan", "scan_merged")
       for f, u in (("shuffle_bytes", "bytes"), ("input_bytes_per_row", "bytes/row"))},
    "salted_table.scanner.first_row_ms": "ms",
    "salted_table.scanner.jobs": "count",
    "salted_table.scanner.drain_ms": "ms",
    "salted_table.write.s": "s",
    "salted_table.write.shuffle_write_bytes": "bytes",
    "salted_table.write.output_bytes": "bytes",
    "salted_table.write.gc_ms": "ms",
    "salted_table.write.spill_bytes": "bytes",
    "salted_table.build_zone_map.s": "s",
    "salted_table.compact.s": "s",
    "salted_table.compact.output_bytes": "bytes",
    "salted_table.files_per_salt.before_compact": "count",
    "salted_table.files_per_salt.after_compact": "count",
    "salted_table.stored_bytes_per_input_byte": "ratio",
    "stream.epochs": "count",
    "stream.epoch_p50_ms": "ms",
    "stream.add_batch_p50_ms": "ms",
    "stream.wal_commit_p50_ms": "ms",
    "stream.query_planning_p50_ms": "ms",
    "stream.start_ms": "ms",
    "stream.window_agg.s": "s",
    "stream.window_agg.state_commit_ms": "ms",
    "stream.window_agg.state_rows": "count",
    "dedup.minhash_pairs.s": "s",
    "dedup.minhash_pairs.shuffle_bytes": "bytes",
    "dedup.minhash_pairs.gc_ms": "ms",
    "dedup.minhash_pairs.spill_bytes": "bytes",
    "dedup.minhash_pairs.pairs": "count",
    "dedup.clusters.s": "s",
    "queries.corpus_curation.s": "s",
    "minhash_index.build_s": "s",
    "minhash_index.probe_s": "s",
    "minhash_index.shuffle_bytes": "bytes",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "trace.overhead_frac": "fraction",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ok(run, kind: str) -> list:
    return [c for c in run.calls if c.kind == kind and c.ok]


def end_to_end(run, wl, setup_s: float) -> dict:
    """``setup_s``: wall seconds of session start, the workload's load
    and its warm-up.

    The other two are wall time in units of the probe: the mean over the
    run of ``probe_s()``, a fixed amount of work timed just before each
    timed call. A shared host's speed drifts by tens of percent between
    runs and the probe drifts with it, so its unit cancels most of the
    drift (README.md, End-to-end metrics). The mean, not the median, so
    that the hypervisor's short bursts of steal count in the probe as
    they do in the calls. ``call_p50_gm_probes``: geometric
    mean, over the workload's latency call types, of each type's median
    time per call, so every type weighs the same however often it runs.
    ``rows_per_probe``: rows the workload's throughput calls moved (rows
    landed by the write path, documents through the dedup pipeline) per
    probe-length of those calls' time."""
    probe = statistics.fmean(run.probes)
    med = [_med(c.s for c in _ok(run, k)) for k in wl.LATENCY]
    calls = [c for k in wl.THROUGHPUT for c in _ok(run, k)]
    busy = sum(c.s for c in calls)
    return {
        "setup_s": (setup_s, "s"),
        "call_p50_gm_probes": (_geomean(v / probe for v in med), "probes"),
        "rows_per_probe": (sum(c.rows for c in calls) * probe / busy if busy else 0.0, "rows/probe"),
    }


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))


def _stage_stats(run, kind: str) -> list[dict]:
    return [run.tracer.call_stats(c.span) for c in _ok(run, kind) if c.span is not None]


def _child_ms(run, kind: str, suffix: str) -> float:
    ids = {c.span.id for c in _ok(run, kind) if c.span is not None}
    return _med(s.ms for s in run.tracer.spans if s.parent in ids and s.name == kind + suffix)


def per_layer(run, wl, setup: dict) -> dict:
    run.tracer.collect()
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["session.start_s"]
    out["session.warmup_s"] = setup["session.warmup_s"]
    for k in ("distributor.salt_rows_max_over_mean", "salted_table.files_per_salt.before_compact",
              "salted_table.files_per_salt.after_compact"):
        out[k] = _med(run.layer.get(k, []))
    out["salted_table.stored_bytes_per_input_byte"] = _med(run.layer.get("stored_bytes_per_input_byte", []))

    for op in _READ_OPS + ("scanner",):
        st = _stage_stats(run, op)
        if not st:
            continue
        calls = _ok(run, op)
        p = f"salted_table.{op}."
        out[p + "jobs"] = _med(s["jobs"] for s in st)
        if op == "scanner":
            out[p + "first_row_ms"] = _med(c.extra["first_row_ms"] for c in calls)
            out[p + "drain_ms"] = _child_ms(run, op, "/exec")
            continue
        out[p + "build_ms"] = _child_ms(run, op, "/build")
        out[p + "exec_ms"] = _child_ms(run, op, "/exec")
        out[p + "tasks"] = _med(s["tasks"] for s in st)
        out[p + "input_bytes"] = _med(s["input_bytes"] for s in st)
        out[p + "driver_only_ms"] = _med(s["driver_only_ms"] for s in st)
        if op in ("scan", "scan_merged"):
            out[p + "shuffle_bytes"] = _med(s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in st)
            out[p + "input_bytes_per_row"] = _med(s["input_bytes"] / max(c.rows, 1) for s, c in zip(st, calls))

    if _ok(run, "write"):
        st = _stage_stats(run, "write")
        out["salted_table.write.s"] = _med(c.s for c in _ok(run, "write"))
        for f in ("shuffle_write_bytes", "output_bytes", "gc_ms", "spill_bytes"):
            out["salted_table.write." + f] = _med(s[f] for s in st)
        out["salted_table.build_zone_map.s"] = _med(c.s for c in _ok(run, "build_zone_map"))
    if _ok(run, "compact"):
        out["salted_table.compact.s"] = _med(c.s for c in _ok(run, "compact"))
        out["salted_table.compact.output_bytes"] = _med(s["output_bytes"] for s in _stage_stats(run, "compact"))

    drains = [c for c in _ok(run, "ingest")]
    if drains:
        epochs = [p for c in drains for p in c.extra]
        dur = [p["durationMs"] for p in epochs]
        out["stream.epochs"] = float(len(epochs))
        out["stream.epoch_p50_ms"] = _med(d.get("triggerExecution", 0) for d in dur)
        out["stream.add_batch_p50_ms"] = _med(d.get("addBatch", 0) for d in dur)
        out["stream.wal_commit_p50_ms"] = _med(d.get("walCommit", 0) for d in dur)
        out["stream.query_planning_p50_ms"] = _med(d.get("queryPlanning", 0) for d in dur)
        # a drain's wall time outside its epochs: query start-up and
        # shutdown around the micro-batches
        out["stream.start_ms"] = _med(
            c.s * 1000.0 - sum(p["durationMs"].get("triggerExecution", 0) for p in c.extra) for c in drains
        )
    if _ok(run, "window_agg"):
        out["stream.window_agg.s"] = _med(c.s for c in _ok(run, "window_agg"))
        progs = run.layer.get("window_agg_progress", [])[-len(_ok(run, "window_agg")):]
        ops = lambda prog: [o for p in prog for o in p.get("stateOperators", [])]  # noqa: E731
        out["stream.window_agg.state_commit_ms"] = _med(sum(o["commitTimeMs"] for o in ops(p)) for p in progs)
        out["stream.window_agg.state_rows"] = _med(
            sum(o["numRowsTotal"] for o in p[-1].get("stateOperators", [])) for p in progs if p
        )

    if _ok(run, "minhash_pairs"):
        st = _stage_stats(run, "minhash_pairs")
        p = "dedup.minhash_pairs."
        out[p + "s"] = _med(c.s for c in _ok(run, "minhash_pairs"))
        out[p + "shuffle_bytes"] = _med(s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in st)
        out[p + "gc_ms"] = _med(s["gc_ms"] for s in st)
        out[p + "spill_bytes"] = _med(s["spill_bytes"] for s in st)
        out[p + "pairs"] = _med(c.extra["pairs"] for c in _ok(run, "minhash_pairs"))
        out["dedup.clusters.s"] = _med(c.s for c in _ok(run, "clusters"))
        out["queries.corpus_curation.s"] = _med(c.s for c in _ok(run, "corpus_curation"))
        out["minhash_index.build_s"] = _med(c.s for c in _ok(run, "index_build"))
        out["minhash_index.probe_s"] = _med(c.s for c in _ok(run, "index_probe"))
        out["minhash_index.shuffle_bytes"] = _med(
            a["shuffle_read_bytes"] + a["shuffle_write_bytes"] + b["shuffle_read_bytes"] + b["shuffle_write_bytes"]
            for a, b in zip(_stage_stats(run, "index_build"), _stage_stats(run, "index_probe"))
        )

    # every stage the timed phase ran, streaming epochs included
    rows = run.tracer.stages_since(run.phase_start)
    for f in ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "spill_bytes"):
        out["spark." + f] = float(sum(r[f] for r in rows))
    out["trace.overhead_frac"] = run.tracer.overhead_s / max(run.phase_end - run.phase_start, 1e-9)
    return {k: (float(v), PER_LAYER[k]) for k, v in out.items()}


def named_lines(run, wl) -> list[str]:
    """The operations behind the end-to-end metrics, by name, for a
    reader: latency medians and throughputs per operation (the
    p90 only where ten samples lie beyond it) and the share of failed
    operations."""
    lines = []

    def line(name, value, unit, better, n):
        lines.append(f"  {name:<28} {value:>14.4f} {unit:<8} ({better} is better, n={n})")

    for name, kinds in (
        ("point_get_p50_ms", ("point_get",)),
        ("multi_get_p50_ms", ("multi_get",)),
        ("range_scan_p50_ms", ("scan",)),
        ("merged_scan_p50_ms", ("scan_merged",)),
        ("scanner_p50_ms", ("scanner",)),
        ("range_count_p50_ms", ("fast_count",)),
        ("read_after_write_p50_ms", ("point_get_after_write", "scan_after_write")),
        ("minhash_pairs_p50_ms", ("minhash_pairs",)),
        ("clusters_p50_ms", ("clusters",)),
        ("corpus_curation_p50_ms", ("corpus_curation",)),
        ("index_build_p50_ms", ("index_build",)),
        ("index_probe_p50_ms", ("index_probe",)),
    ):
        xs = [c.s * 1000.0 for k in kinds for c in _ok(run, k)]
        if xs:
            line(name, _med(xs), "ms", "lower", len(xs))
        if name == "point_get_p50_ms" and len(xs) >= 100:
            line("point_get_p90_ms", statistics.quantiles(xs, n=10)[-1], "ms", "lower", len(xs))

    def rate(name, kinds, rows_of):
        cs = [c for k in kinds for c in _ok(run, k)]
        if cs:
            line(name, sum(rows_of(c) for c in cs) / sum(c.s for c in cs), "rows/s", "higher", len(cs))

    rate("wide_scan_rows_per_s", ("wide_scan",), lambda c: c.rows)
    rate("bulk_write_rows_per_s", ("write", "build_zone_map"), lambda c: c.rows)
    rate("stream_ingest_rows_per_s", ("ingest",), lambda c: c.rows)
    rate("stream_agg_rows_per_s", ("window_agg",), lambda c: c.extra["input_rows"])
    rate("dedup_docs_per_s", ("minhash_pairs", "clusters", "corpus_curation", "index_build", "index_probe"),
         lambda c: c.rows)
    # the end-to-end metrics in plain wall time, and their unit
    line("call_p50_gm_ms", _geomean(_med(c.s * 1000.0 for c in _ok(run, k)) for k in wl.LATENCY), "ms", "lower",
         sum(len(_ok(run, k)) for k in wl.LATENCY))
    rate("rows_per_s", wl.THROUGHPUT, lambda c: c.rows)
    line("probe_ms", statistics.fmean(run.probes) * 1000.0, "ms", "lower", len(run.probes))
    stored = run.layer.get("stored_bytes_per_input_byte")
    if stored:
        line("stored_bytes_per_input_byte", _med(stored), "ratio", "lower", len(stored))
    failed = sum(not c.ok for c in run.calls)
    line("failed_op_ratio", failed / max(len(run.calls), 1), "fraction", "lower", len(run.calls))
    return ["operations:"] + lines


def record(path: str, args, h: dict, run_id: str, metrics: dict) -> None:
    """Append the run to a local results log. Each record carries its
    host, so results from different hosts are never compared."""
    with open(path, "a") as f:
        f.write(
            json.dumps(
                {
                    "run_id": run_id,
                    "time": time.time(),
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "trace": args.trace,
                    "host": h,
                    "metrics": {k: v for k, (v, _) in metrics.items()},
                }
            )
            + "\n"
        )
