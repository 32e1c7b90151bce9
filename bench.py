#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": ...}

Headline set = one query per engine pillar: salted write, salted
ordered scan, point get, TPC-H-style agg + star join, window analytics,
sessionization, MinHash dedup, SimHash dedup, brute/IVF similarity,
text stats, streaming windowed agg. Each timed as a full action
(count/collect) on a warm session; the salted write is timed separately
from the scan so scan latency reflects the pruned read path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# where the per-scale shuffle audit (SHUFFLE_sf<sf>.json) is written
SIDECAR_DIR = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    from pyspark.sql import functions as F

    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.session import get_spark
    from hbasewd_spark.plans.distributor import Hash31Distributor, HashDistributor
    from hbasewd_spark.sources.loaders import load_table
    from hbasewd_spark.sources.salted_table import SaltedTable
    from hbasewd_spark import queries as Q
    from hbasewd_spark.operators import dedup as DD, relational as R, similarity as SIM

    spark = get_spark(app_name="hbasewd_bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # ALL setup (incl. the events load + warm-up scan — the step most
    # exposed to a driver testdata-encoding change, the round-3 killer)
    # is guarded: a setup failure degrades to per-query errors, never
    # to a run with no JSON line.
    try:
        events = load_table(spark, SF_DIR, "events")
        events.count()  # warm the JVM + parquet footers (untimed)
        # warm the Python worker daemons too (one-time ~1-2 s fork +
        # Arrow import cost): merged_scan is the first Pandas-API query
        # in the suite and was absorbing the whole daemon spin-up into
        # its number (r5 misread it as a 2.8x operator regression)
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).count()
        bounds = events.agg(
            (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
            (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
            F.min("ts").alias("t0"),
        ).collect()[0]
    except Exception as e:  # setup failure must not zero the whole run
        print(f"bench: events setup FAILED: {e}", file=sys.stderr)
        events = bounds = None
    salted_path = "/tmp/hbasewd_bench/events_salted"

    # Host-noise calibration (BENCH_HISTORY round-10: shared-host
    # MEMORY-BANDWIDTH contention inflates memory-bound Spark queries
    # up to 8x while ALU loops stay clean, and no guest counter shows
    # it). Time a fixed memory-bound probe (256 MB numpy copy x4) and a
    # fixed ALU probe; their ratio against quiet-host reference values
    # tags this run's sample so per-query regression hunting can tell
    # engine changes from host waves. Sidecar/stderr only — the stdout
    # contract stays compact.
    noise = {}
    try:
        import numpy as _np

        buf = _np.ones(32 * 1024 * 1024, dtype=_np.int64)  # 256 MB
        buf = buf + 1  # untimed: first-touch faults + allocator warm-up
        t0 = time.time()
        for _ in range(4):
            buf = buf + 1  # allocates + streams 256 MB per pass
        noise["mem_probe_s"] = round(time.time() - t0, 4)
        t0 = time.time()
        x = 1469598103934665603
        for _ in range(2_000_000):
            x = (x * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        noise["alu_probe_s"] = round(time.time() - t0, 4)
        # quiet-host references measured on this box (round 11, true
        # idle): mem ~0.32 s, alu ~0.18 s. mem inflation >> alu
        # inflation => memory-bandwidth wave.
        noise["mem_inflation"] = round(noise["mem_probe_s"] / 0.32, 2)
        noise["alu_inflation"] = round(noise["alu_probe_s"] / 0.18, 2)
        print(f"bench: host-noise probe {noise}", file=sys.stderr)
    except Exception as e:
        print(f"bench: noise probe FAILED: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    shuffle_bytes: dict[str, dict[str, int]] = {}
    # per-query stage-metric deltas (VERDICT r8 #3: a +48% wall
    # regression took a judge session to root-cause; a bytes column
    # shows "same shuffle, extra job" at a glance). ShuffleAudit rides
    # internal status-store accessors — its failure must never cost a
    # timing, so it degrades to wall-clock-only.
    try:
        from hbasewd_spark.metrics import ShuffleAudit

        audit = ShuffleAudit(spark)
    except Exception as e:
        print(f"bench: ShuffleAudit unavailable: {e}", file=sys.stderr)
        audit = None

    def _totals():
        """Status-store snapshot that can never cost a timing: on any
        failure the audit is disabled for the rest of the run."""
        nonlocal audit
        if audit is None:
            return None
        try:
            return audit._totals()
        except Exception as e:
            print(f"bench: ShuffleAudit disabled mid-run: {e}", file=sys.stderr)
            audit = None
            return None

    def timed(name: str, fn):
        """Per-query fault isolation (round-3 lesson: one query's crash
        at position 8 zeroed all 29 timings). A failed query records an
        error string; the JSON line ALWAYS prints. The metric snapshots
        sit OUTSIDE the timed span (sub-ms driver-side iteration) so
        timings stay comparable with pre-r9 records."""
        before = _totals()
        t0 = time.time()
        try:
            out = fn()
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
            return None
        timings[name] = round(time.time() - t0, 3)
        after = _totals()
        if before is not None and after is not None:
            shuffle_bytes[name] = {
                "shuffle_write": after["shuffle_write_bytes"] - before["shuffle_write_bytes"],
                "shuffle_read": after["shuffle_read_bytes"] - before["shuffle_read_bytes"],
                "input": after["input_bytes"] - before["input_bytes"],
            }
        return out

    # 1. salted bulk write (the anti-hot-spot ingest path, O1/O2/P3)
    tbl_holder = {}

    def do_write():
        # zone_map_cols reads the key's zone metadata from the parquet
        # footers at write time (nothing persisted; a column the footers
        # cannot serve gets a scan-built sidecar) — the production
        # layout (SaltedTable.write docs), and it makes merged_scan's
        # number the steady-state one: without it the first
        # scan_merged once paid a full-column zone scan that r5's bench
        # misread as a 2.8x regression (BENCH_HISTORY.md, round-6
        # definition change).
        # row_group_bytes: keep ~8 row groups per bucket file at ANY
        # bench SF so intra-file pruning engages like it does on
        # production GB-class files (128 MB groups). Estimated off the
        # source size; clamped to parquet's sane range.
        est = Fs.du(spark, os.path.join(SF_DIR, "events.parquet"))
        rg = min(128 << 20, max(256 << 10, est // (32 * 8))) if est else None
        tbl_holder["t"] = SaltedTable.write(
            events,
            salted_path,
            HashDistributor(32),
            "ts",
            zone_map_cols=["ts"],
            row_group_bytes=rg,
        )

    timed("salted_write", do_write)
    tbl = tbl_holder.get("t")

    # 2. salted ordered range scan (O7/O8/O9). Both scan paths record
    # the STEADY-STATE call: one untimed priming run absorbs the
    # first-call one-offs (zone-sidecar load + plan codegen — ~1.2 s at
    # sf0.1, which r5 misread as a 2.8x merged regression; round-6
    # definition change, BENCH_HISTORY.md).
    def warm_timed(name, fn):
        try:
            fn()
        except Exception:
            pass  # the timed run will record the error
        timed(name, fn)

    warm_timed(
        "ordered_scan",
        lambda: tbl.scan(start=bounds.lo, stop=bounds.hi, ordered=True).collect(),
    )

    # 2b. the same read through the exchange-free merge path (zone-
    # planned shard merge instead of a range-exchange sort)
    warm_timed(
        "merged_scan",
        lambda: tbl.scan_merged(start=bounds.lo, stop=bounds.hi).collect(),
    )

    # 3. point gets (P2) — 10 single gets through the salt-pruned path,
    # then the batched multi_get (HTable.get(List<Get>) parity: one job)
    try:
        keys10 = [r.ts for r in events.limit(10).collect()]
    except Exception as e:
        print(f"bench: keys10 setup FAILED: {e}", file=sys.stderr)
        keys10 = []

    def point_gets():
        return sum(tbl.point_get(k).count() for k in keys10)

    timed("point_get_x10", point_gets)
    timed("multi_get_10", lambda: tbl.multi_get(keys10).count())

    # 4. unordered parallel read + count (P6, WdTableInputFormat parity)
    timed("parallel_count", lambda: tbl.parallel_read(start=bounds.lo).count())

    # 4b. the same count served from zone-map metadata (fast_count):
    # wholly-inside files contribute sidecar counts with zero I/O
    timed("metadata_count", lambda: tbl.fast_count(bounds.lo, bounds.hi))

    # 5-8. relational pillars
    timed("q1_pricing", lambda: R.q1_pricing_summary(spark, SF_DIR).collect())
    timed("q5_star_join", lambda: R.join_multiway_region_revenue(spark, SF_DIR).collect())
    timed("window_running", lambda: R.window_running_total(spark, SF_DIR).count())
    timed("sessionization", lambda: R.sessionize(spark, SF_DIR).count())

    # 9-12. extension pillars
    timed("dedup_minhash", lambda: DD.minhash_dedup_pairs(spark, SF_DIR).count())
    timed("dedup_simhash", lambda: DD.simhash_df(spark, SF_DIR).count())
    timed("sim_brute_topk", lambda: SIM.brute_topk(spark, SF_DIR).count())
    timed("sim_ivf_topk", lambda: SIM.ivf_topk(spark, SF_DIR).count())
    timed("text_stats", lambda: Q.REGISTRY["ext_text_stats"].fn(spark, SF_DIR).count())

    # 13-14. composite pipeline + regression analytics
    timed("corpus_curation", lambda: Q.REGISTRY["ext_pipeline_corpus_curation"].fn(spark, SF_DIR).count())
    timed("regression_agg", lambda: Q.REGISTRY["rel_regression_agg"].fn(spark, SF_DIR).count())

    # 15. streaming windowed agg (real Structured Streaming drain)
    timed(
        "stream_window_agg",
        lambda: Q.REGISTRY["stream_windowed_agg"].fn(spark, SF_DIR).count(),
    )

    # 16-20. round-2 pillars: as-of join, hierarchical rollup, near-dup
    # clustering (pairs -> components), contamination, gap-fill+LOCF
    timed("asof_join", lambda: Q.REGISTRY["rel_asof_join"].fn(spark, SF_DIR).count())
    timed("time_rollup", lambda: Q.REGISTRY["rel_time_rollup"].fn(spark, SF_DIR).count())
    timed("dedup_clusters", lambda: Q.REGISTRY["ext_dedup_clusters"].fn(spark, SF_DIR).count())
    timed("contamination", lambda: Q.REGISTRY["ext_text_contamination"].fn(spark, SF_DIR).count())
    timed("ts_gapfill", lambda: Q.REGISTRY["rel_ts_gapfill_locf"].fn(spark, SF_DIR).count())

    # 21-22. model-ready prep: context-window chunking, sequence packing
    timed("chunking", lambda: Q.REGISTRY["ext_text_chunking"].fn(spark, SF_DIR).count())
    timed("packing", lambda: Q.REGISTRY["ext_pack_sequences"].fn(spark, SF_DIR).count())

    # 23-24. retrieval + pure-Catalyst multimodal slicing
    timed("bm25", lambda: Q.REGISTRY["ext_text_bm25"].fn(spark, SF_DIR).count())
    timed("audio_segments", lambda: Q.REGISTRY["ext_multimodal_audio_segments"].fn(spark, SF_DIR).count())

    # 25-27. round-3 session-2: hardest new TPC-H shape, passage-level
    # dedup, semantic dedup in k-means cells
    timed("tpch_q21", lambda: Q.REGISTRY["rel_q21_waiting_suppliers"].fn(spark, SF_DIR).count())
    timed("passage_dedup", lambda: Q.REGISTRY["ext_passage_dedup"].fn(spark, SF_DIR).count())
    # NOT .count() (r12 measurement fix, same artifact as dedup_spans/
    # dedup_rewrite below): the per-cell removal columns are pure
    # projections over the grouped cells, so a bare count prunes the
    # whole pair-dedup fold (and, in the pre-r12 join shape, eliminated
    # the entire pair join + two of three assignment subtrees via
    # outer-join elimination — the recorded ~1.2s was assignment-only).
    # Summing n_removed/removed_checksum forces every cell's fold while
    # collecting one driver row.
    timed("semdedup", lambda: Q.REGISTRY["ext_semdedup"].fn(spark, SF_DIR)
          .agg(F.sum("n_removed"), F.sum("removed_checksum")).collect())

    # 28-29. round-4: temperature-scaled resampling, embedding outliers
    # NOT .count() (r12 measurement fix): the query ends in a LEFT join
    # whose right side (per-lang sampled counts) has unique keys, so
    # outer-join elimination dropped the entire resample scan from a
    # bare count — the recorded number covered only the per-lang count
    # aggregate. Summing sampled_n forces the resample pass.
    timed("temperature_mixture", lambda: Q.REGISTRY["ext_temperature_mixture"].fn(spark, SF_DIR)
          .agg(F.sum("sampled_n")).collect())
    timed("embed_outliers", lambda: Q.REGISTRY["ext_embed_outliers"].fn(spark, SF_DIR).count())

    # 30-32. round-5: incremental dedup against the persisted LSH index
    # (timing includes the index build — that IS the operator's cost),
    # per-language quality calibration, host-level crawl rollup
    timed("incremental_dedup", lambda: Q.REGISTRY["ext_dedup_incremental"].fn(spark, SF_DIR).count())
    timed("quality_calibration", lambda: Q.REGISTRY["ext_quality_calibration"].fn(spark, SF_DIR).count())
    timed("url_host_stats", lambda: Q.REGISTRY["ext_url_host_stats"].fn(spark, SF_DIR).count())

    # 33-38. round-5 session-3: TPC-H archetype completions (Q5 exact,
    # Q9/Q12 schema-adapted) + training-layout ops (token-budget fill,
    # shard audit, unigram familiarity scoring)
    timed("tpch_q5", lambda: Q.REGISTRY["rel_q5_local_supplier"].fn(spark, SF_DIR).count())
    timed("tpch_q9", lambda: Q.REGISTRY["rel_q9_product_profit"].fn(spark, SF_DIR).count())
    timed("tpch_q12", lambda: Q.REGISTRY["rel_q12_priority_shipping"].fn(spark, SF_DIR).count())
    timed("token_budget", lambda: Q.REGISTRY["ext_token_budget_sample"].fn(spark, SF_DIR).count())
    timed("shard_plan", lambda: Q.REGISTRY["ext_shard_plan"].fn(spark, SF_DIR).count())
    timed("unigram_familiarity", lambda: Q.REGISTRY["ext_unigram_familiarity"].fn(spark, SF_DIR).count())

    # 39-41. round-5 session-3 second batch: embedding drift matrix,
    # passage rewrite (text moves once — the rewrite IS the output),
    # code-vs-prose routing
    timed("centroid_drift", lambda: Q.REGISTRY["ext_centroid_drift"].fn(spark, SF_DIR).count())
    timed("passage_scrub", lambda: Q.REGISTRY["ext_passage_scrub"].fn(spark, SF_DIR).count())
    timed("code_detect", lambda: Q.REGISTRY["ext_code_detect"].fn(spark, SF_DIR).count())

    # 42-44. round-11: substring-level dedup (full k-gram density +
    # winnowed fingerprint pairs — the sparse scale path) and
    # fixed-point PageRank over the event transition graph
    timed("dedup_substring", lambda: Q.REGISTRY["ext_dedup_substring"].fn(spark, SF_DIR).count())
    timed("dedup_winnow", lambda: Q.REGISTRY["ext_dedup_winnow"].fn(spark, SF_DIR).count())
    timed("pagerank", lambda: Q.REGISTRY["ext_graph_pagerank"].fn(spark, SF_DIR).count())

    # 45-46. round-12: the span ACCOUNTING (the family's most
    # shuffle-heavy window — row_number over the gram-hash partition;
    # VERDICT r11 #2 wanted its scale number on record) and the span
    # REWRITE (emits cleaned text — the Lee et al. removal step).
    # NOT .count(): both end in a LEFT join whose right side has unique
    # keys, so Catalyst's outer-join elimination prunes the entire gram
    # pipeline out of a bare count (measured 0.4s "spans" at sf10 vs
    # 21.8s for coverage on the same relation — a fake number). The
    # value aggregates force every row's kept_chars, i.e. the full
    # window/fold pipeline, while collecting only one driver row.
    timed("dedup_spans", lambda: Q.REGISTRY["ext_dedup_substring_spans"].fn(spark, SF_DIR)
          .agg(F.sum("kept_chars"), F.sum("n_dup_spans")).collect())
    timed("dedup_rewrite", lambda: Q.REGISTRY["ext_dedup_substring_rewrite"].fn(spark, SF_DIR)
          .agg(F.sum("kept_chars")).collect())

    total = round(sum(timings.values()), 3)
    try:
        _report_vs_history(
            total, timings, float(sf) if sf.replace(".", "").isdigit() else sf
        )
    except Exception as e:  # stderr reporting must never block the JSON line
        print(f"bench: history report FAILED: {e}", file=sys.stderr)
    # shuffle_bytes goes to a SIDECAR, never stdout: round 9 appended it
    # to the stdout JSON line, growing it to 4.8 KB — past the driver's
    # ~2 KB tail-capture window — and BENCH_r09.json recorded
    # `parsed: null` (VERDICT r9 item #1). Stdout is the driver contract
    # and must stay compact; the audit map lands in a per-scale sidecar
    # (SHUFFLE_sf<sf>.json — a single fixed name was silently clobbered
    # by whichever run happened last, e.g. the test suite's sf0.001
    # fault-isolation run overwrote the committed sf10 audit) plus a
    # stderr echo for interactive runs.
    if shuffle_bytes:
        try:
            side = os.path.join(SIDECAR_DIR, f"SHUFFLE_sf{sf}.json")
            with open(side, "w") as f:
                json.dump(
                    {"sf": sf, "noise_probe": noise, "shuffle_bytes": shuffle_bytes},
                    f,
                    indent=1,
                )
            print(f"bench: shuffle audit -> {side}", file=sys.stderr)
        except Exception as e:
            print(f"bench: shuffle sidecar FAILED: {e}", file=sys.stderr)
    print(json.dumps(build_payload(total, timings, errors, sf, noise)))


def build_payload(
    total: float, timings: dict, errors: dict, sf: str, noise: dict | None = None
) -> dict:
    """The single driver-contract stdout line. Keep it COMPACT: the
    driver captures only the tail of stdout (~2000 chars observed); a
    45-query payload with float timings is ~1.1 KB and proven parseable
    through r8. tests/test_bench_contract.py pins the serialized length
    under 1800 chars so an accidental field addition fails loudly
    instead of silently blinding the driver again."""
    payload = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": dict(timings, **{k: {"err": v[:60]} for k, v in errors.items()}),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Noise-probe fields IN the driver-contract line (VERDICT r12 #1):
    # twice now a round record was taken inside a host-contention wave
    # (r10 66.5 s, r12 160 s) and proving it took a forensic session.
    # probe_mem_x / probe_alu_x = this run's memory-bandwidth and ALU
    # micro-probe times over the quiet-host references, so a
    # contaminated sample is machine-detectable from the record alone
    # (~1.0 = quiet host; >>1 memory-side = contention wave). ~45
    # chars; the payload stays well under the 1800-char tail window.
    if noise:
        if "mem_inflation" in noise:
            payload["probe_mem_x"] = noise["mem_inflation"]
        if "alu_inflation" in noise:
            payload["probe_alu_x"] = noise["alu_inflation"]
    if errors:
        payload["n_errors"] = len(errors)
    # Hard backstop, engaged on SIZE alone (not only when errors exist
    # — a 60+-query error-free suite outgrows the window too, and that
    # would replay the r9 parsed:null failure this function exists to
    # prevent). Degrade in tiers; a lean parsed line always beats a
    # rich unparsed one.
    if len(json.dumps(payload)) >= 1800 and errors:
        payload["queries"] = dict(timings, **{k: {"err": "see stderr"} for k in errors})
        if len(json.dumps(payload)) >= 1800:
            payload["queries"] = timings
            payload["error_names"] = sorted(errors)[:10]
    if len(json.dumps(payload)) >= 1800:
        # timings alone outgrew the window: keep the SLOWEST queries
        # (the ones perf grading cares about), drop the fastest, and
        # say how many were trimmed so the omission is visible.
        by_cost = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
        while by_cost and len(json.dumps(payload)) >= 1800:
            by_cost.pop()
            payload["queries"] = dict(sorted(by_cost))
            payload["queries_trimmed"] = len(timings) - len(by_cost)
    return payload


def _report_vs_history(total: float, timings: dict, sf=None) -> None:
    """Per-query delta vs the last BENCH_HISTORY.md record AT THE SAME
    SCALE FACTOR, to stderr (stdout is reserved for the single
    driver-contract JSON line). History lines may carry the per-query
    map inline (``queries``) or point at a sibling JSON record
    (``queries_file`` — e.g. BENCH_sf10.json) — without one of those
    only the total is compared. sf matching matters: the history holds
    sf0.1 AND sf10 records, and an sf0.1 run diffed against the sf10
    total reads as a 3x regression that never happened."""
    repo = os.path.dirname(os.path.abspath(__file__))
    hist_path = os.path.join(repo, "BENCH_HISTORY.md")
    last = None
    try:
        with open(hist_path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    if sf is None or rec.get("sf") == sf:
                        last = rec
    except OSError:
        pass
    if not last:
        return
    prev = last.get("queries", {})
    if not prev and last.get("queries_file"):
        try:
            with open(os.path.join(repo, last["queries_file"])) as f:
                prev = json.load(f).get("queries", {})
        except OSError:
            pass
    print(
        f"--- vs BENCH_HISTORY ({last.get('note', 'unlabeled record')}): "
        f"total {last.get('value')}s -> {total}s ---",
        file=sys.stderr,
    )
    for name, sec in timings.items():
        # history lines may carry {"err": ...} dict entries for failed
        # queries — only numeric priors are comparable
        if name in prev and isinstance(prev[name], (int, float)) and prev[name] > 0:
            ratio = sec / prev[name]
            flag = "  <-- regression" if ratio > 1.3 else ("  <-- win" if ratio < 0.7 else "")
            print(f"{name:>20}: {prev[name]:7.3f}s -> {sec:7.3f}s ({ratio:4.2f}x){flag}", file=sys.stderr)
        else:
            print(f"{name:>20}: (new) {sec:7.3f}s", file=sys.stderr)


if __name__ == "__main__":
    main()
