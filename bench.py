#!/usr/bin/env python
"""Benchmark harness: the one instrumented runner, on a warm session
over the test data at $SPARK_GRAFT_SF_DIR (default: sf0.1) on
local[$SPARK_GRAFT_CPUS].

Headline mode, ``python bench.py``, prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": ...}
and writes each call's profile row to PROFILE_sf<sf>.json.

Headline set = one query per engine pillar: salted write, salted
ordered scan, point get, TPC-H-style agg + star join, window analytics,
sessionization, MinHash dedup, SimHash dedup, brute/IVF similarity,
text stats, streaming windowed agg. Each timed as a full action
(count/collect) on a warm session; the salted write is timed separately
from the scan so scan latency reflects the pruned read path.

Registry mode, ``python bench.py --registry a,b|all [--reps N]
[--plans DIR]``, times registry queries with the DataFrame build inside
the timed call: a build only plans, but the few that must run jobs
(salted writes, stream drains, iterations; the list is
``BUILD_RUNS_JOBS`` in tests/test_build_jobs.py) would flatter any
rewrite that moves work there if it were left out. The build and
its noop-sink execution are the call's ``build`` and ``exec`` child
spans. Each query first runs once untimed, so no rep carries its cold
start; it then prints one JSON row per query, the fastest of N reps,
with every rep's seconds. ``--plans DIR`` writes each query's
``explain('formatted')`` to DIR/<query>.txt and adds its structural
counts to the row; ``--reps 0`` builds once without executing (no
untimed run).

Every timed call is a perfbench span (perfbench/spans.py). Its row
holds the wall seconds, Spark jobs, stage totals (tasks, executor
run/CPU ms, GC, spill, input/output/shuffle bytes) and driver-only ms,
and the same for each child span.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import spans  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# where the per-scale profile sidecar (PROFILE_sf<sf>.json) is written
SIDECAR_DIR = os.path.dirname(os.path.abspath(__file__))


class Runner:
    """One warm-up and one ``timed()`` for both modes.

    Each call's stats are read from the status store by the job groups
    of its spans as soon as it returns, so no stage is lost to
    ``spark.ui.retainedStages`` eviction over a long session. The store
    rides internal accessors: its failure must never cost a timing, so
    the runner then degrades to wall-clock only."""

    def __init__(self, spark):
        self.spark = spark
        self.timings: dict[str, float] = {}
        self.errors: dict[str, str] = {}
        self.rows: dict[str, dict] = {}
        self._open = None  # the innermost open span
        self._runs: dict[int, list[str]] = {}  # span id -> stream run ids
        self._listener = None
        try:
            self.tracer = spans.Tracer(spark, f"bench-{uuid.uuid4().hex[:8]}", enabled=True)
            self._store = spans.StatusStore(spark)
            listener = self._stream_listener()
            spark.streams.addListener(listener)
            self._listener = listener
        except Exception as e:
            print(f"bench: status store unavailable, wall-clock only: {e}", file=sys.stderr)
            self._disable()

    def _disable(self) -> None:
        self.tracer = spans.Tracer(self.spark, "", enabled=False)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)

    def _stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        runner = self

        class StreamRuns(StreamingQueryListener):
            """A stream's micro-batch jobs run under its run id's job
            group, not the span's. ``onQueryStarted`` is delivered
            while ``start()`` blocks, so the open span is the one that
            started the stream."""

            def onQueryStarted(self, event):
                if runner._open is not None:
                    runner._runs.setdefault(runner._open.id, []).append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return StreamRuns()

    @contextlib.contextmanager
    def span(self, name: str):
        with self.tracer.span(name) as sp:
            outer, self._open = self._open, sp
            try:
                yield sp
            finally:
                self._open = outer

    def warm_up(self):
        """Untimed warm-up: the JVM and the events table's parquet
        footers, then the Python worker daemons. Returns ``(events,
        bounds)``, bounds being a 24-hour ts range inside events.

        ALL of it (incl. the events load — the step most exposed to a
        driver testdata-encoding change, the round-3 killer) is
        guarded: a failure degrades to per-query errors, never to a run
        with no output."""
        from pyspark.sql import functions as F

        from hbasewd_spark.sources.loaders import load_table

        try:
            events = load_table(self.spark, SF_DIR, "events")
            events.count()
            # the Python worker daemons' one-time ~1-2 s fork + Arrow
            # import: merged_scan is the first Pandas-API query in the
            # suite and was absorbing the whole daemon spin-up into its
            # number (r5 misread it as a 2.8x operator regression)
            self.spark.range(32).repartition(32).mapInPandas(
                lambda it: it, "id long"
            ).count()
            bounds = events.agg(
                (F.min("ts") + F.expr("INTERVAL '12' HOUR")).alias("lo"),
                (F.min("ts") + F.expr("INTERVAL '36' HOUR")).alias("hi"),
            ).collect()[0]
            return events, bounds
        except Exception as e:
            print(f"bench: events setup FAILED: {e}", file=sys.stderr)
            return None, None

    def timed(self, name: str, fn) -> dict | None:
        """Run ``fn`` as one timed call under a span named ``name``;
        return its profile row, or None if it raised.

        Per-query fault isolation (round-3 lesson: one query's crash at
        position 8 zeroed all 29 timings): a failed call records an
        error string and the run goes on. The span bookkeeping and the
        stats read sit OUTSIDE the timed interval, so timings stay
        comparable with the BENCH_* records."""
        failed = False
        with self.span(name) as sp:
            t0 = time.time()
            try:
                fn()
            except Exception as e:
                failed = True
                self.errors[name] = f"{type(e).__name__}: {e}"[:300]
                print(f"bench: {name} FAILED: {self.errors[name]}", file=sys.stderr)
            sec = round(time.time() - t0, 3)
        stats = self._stats(sp)
        if failed:
            return None
        self.timings[name] = sec
        self.rows[name] = row = {"s": sec, **stats}
        return row

    def _stats(self, sp) -> dict:
        """The call's jobs, stage totals and driver-only ms, with the
        same for each child span under the child's name."""
        if sp is None:
            return {}
        try:
            # the listener bus fills the store asynchronously
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self.tracer.collect()  # this call's spans: the list is emptied per call
            for s in self.tracer.spans:
                for run_id in self._runs.pop(s.id, ()):
                    jobs, stages = self._store.stages_of_group(run_id)
                    s.jobs += jobs
                    s.stages += stages
            row = _rounded(self.tracer.call_stats(sp))
            for s in self.tracer.spans:
                if s.parent == sp.id:
                    row[s.name] = {"s": round(s.ms / 1000.0, 3), **_rounded(self.tracer.call_stats(s))}
            return row
        except Exception as e:
            print(f"bench: status store disabled mid-run: {e}", file=sys.stderr)
            self._disable()
            return {}
        finally:
            self.tracer.spans.clear()


def _rounded(stats: dict) -> dict:
    return {k: round(v, 1) if isinstance(v, float) else v for k, v in stats.items()}


_JOINS = {"BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
          "ShuffledHashJoin", "SortMergeJoin"}
_PYTHON = {"ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas"}


def plan_counts(plan: str) -> dict:
    """Structural counts of an ``explain('formatted')`` text, read off
    its details section, which lists each operator once as ``(id)
    Name ...`` (the tree section lists them a second time). A lazily
    checkpointed subtree is a LogicalRDD leaf there, so the counts are
    the residual plan's. More parquet scans than base tables read is
    the duplicate-subtree smell."""
    ops = re.findall(r"^\(\d+\) (\S+(?: parquet)?)", plan, re.M)
    return {
        "scans": ops.count("Scan parquet"),
        "exchanges": ops.count("Exchange"),
        "reused": sum(op in ("ReusedExchange", "ReusedSubquery") for op in ops),
        "subqueries": ops.count("Subquery"),
        "joins": sorted(_JOINS.intersection(ops)),
        "python_nodes": sorted(_PYTHON.intersection(ops)),
    }


def registry(run: Runner, names: list[str], reps: int, plans: str | None) -> int:
    """Time each registry query (see the module docstring); returns the
    exit status, 1 if any query failed."""
    from hbasewd_spark import queries as Q
    from hbasewd_spark.operators.dedup import clear_dedup_caches

    run.warm_up()
    if plans:
        os.makedirs(plans, exist_ok=True)
    for name in names:
        spec, built = Q.REGISTRY[name], {}

        def call():
            with run.span("build"):
                built["df"] = spec.fn(run.spark, SF_DIR)
            if reps:
                with run.span("exec"):
                    built["df"].write.format("noop").mode("overwrite").save()

        if reps:
            # untimed: the first run carries the query's cold start
            # (class loading, codegen, file listings), which would
            # otherwise be the spread of its reps. A failure here is
            # reported by the timed reps.
            clear_dedup_caches()
            with contextlib.suppress(Exception):
                spec.fn(run.spark, SF_DIR).write.format("noop").mode("overwrite").save()
        rows = []
        for _ in range(max(reps, 1)):
            # the MinHash pairs cache would turn every rep after the
            # first into a cache hit
            clear_dedup_caches()
            rows.append(run.timed(name, call))
        if None in rows:
            print(json.dumps({"query": name, "err": run.errors[name]}), flush=True)
            continue
        row = dict(min(rows, key=lambda r: r["s"]), reps_s=[r["s"] for r in rows])
        if plans:
            df = built["df"]
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans, f"{name}.txt"), "w") as f:
                f.write(plan)
            row.update(plan_counts(plan))
        print(json.dumps({"query": name, **row}), flush=True)
    return 1 if run.errors else 0


def parse_args(argv: list[str]) -> argparse.Namespace:
    from hbasewd_spark.queries import REGISTRY

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--registry", metavar="a,b|all",
                    help="time these registry queries instead of the headline suite")
    ap.add_argument("--reps", type=int, default=3,
                    help="registry mode: reps per query, the fastest reported; "
                    "0 builds without executing (default 3)")
    ap.add_argument("--plans", metavar="DIR",
                    help="registry mode: write each formatted plan to DIR and "
                    "add its structural counts to the row")
    args = ap.parse_args(argv)
    if args.registry is None:
        if argv:
            ap.error("--reps and --plans need --registry")
        return args
    if args.reps < 0:
        ap.error("--reps must be >= 0")
    args.registry = sorted(REGISTRY) if args.registry == "all" else args.registry.split(",")
    unknown = [n for n in args.registry if n not in REGISTRY]
    if unknown:
        ap.error(f"not in the registry: {','.join(unknown)}")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv or [])
    from hbasewd_spark.session import get_spark

    run = Runner(get_spark(app_name="hbasewd_bench"))
    try:
        if args.registry:
            return registry(run, args.registry, args.reps, args.plans)
        headline(run)
        return 0
    finally:
        run.close()


def headline(run: Runner) -> None:
    from pyspark.sql import functions as F

    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable
    from hbasewd_spark import queries as Q
    from hbasewd_spark.operators import dedup as DD, relational as R, similarity as SIM

    spark, timed = run.spark, run.timed
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    events, bounds = run.warm_up()
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

    timings, errors = run.timings, run.errors
    total = round(sum(timings.values()), 3)
    try:
        _report_vs_history(
            total, timings, float(sf) if sf.replace(".", "").isdigit() else sf
        )
    except Exception as e:  # stderr reporting must never block the JSON line
        print(f"bench: history report FAILED: {e}", file=sys.stderr)
    # The profile rows go to a SIDECAR, never stdout: round 9 appended
    # per-query bytes to the stdout JSON line, growing it to 4.8 KB —
    # past the driver's ~2 KB tail-capture window — and BENCH_r09.json
    # recorded `parsed: null` (VERDICT r9 item #1). Stdout is the driver
    # contract and must stay compact; the rows land in a per-scale
    # sidecar (PROFILE_sf<sf>.json — a single fixed name was silently
    # clobbered by whichever run happened last, e.g. the test suite's
    # sf0.001 fault-isolation run overwrote the committed sf10 audit).
    if run.rows:
        try:
            side = os.path.join(SIDECAR_DIR, f"PROFILE_sf{sf}.json")
            with open(side, "w") as f:
                json.dump(
                    {"sf": sf, "cpus": spark.sparkContext.defaultParallelism,
                     "noise_probe": noise, "profile": run.rows},
                    f,
                    indent=1,
                )
            print(f"bench: profile -> {side}", file=sys.stderr)
        except Exception as e:
            print(f"bench: profile sidecar FAILED: {e}", file=sys.stderr)
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
    sys.exit(main(sys.argv[1:]))
