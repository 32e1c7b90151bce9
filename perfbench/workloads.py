"""The benchmark workloads.

Each workload is a closed loop with one client: the next call is issued
only after the previous one has returned and its result was consumed.
A call is timed from the public entry point to the last row consumed;
its result is checked against a reference computed from the generated
inputs outside the timed region. A call that raises or returns a wrong
result counts as failed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import json
import os
import queue
import shutil
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen

TS0 = dt.datetime(2024, 1, 1)  # naive UTC twin of gen.T0_US (the process runs with TZ=UTC)

# sizes, chosen so one run of each workload takes about a minute on a
# 4-core host (see README.md, Sizes)
KV_READ_ROWS = 200_000
KV_WRITE_BATCH, KV_WRITE_FILES, KV_WRITE_FILE_ROWS = 60_000, 2, 20_000
DEDUP_DOCS, DEDUP_WARMUP_DOCS = 2_000, 300
# timed dedup iterations per run at the least: the first still runs
# colder than the rest (the warm-up corpus is smaller), and a per-call
# median over three leaves it out, however many fit into the run
DEDUP_MIN_ITERATIONS = 3
BUCKETS = 32

# one round of kv_mix reads; every type appears in every round, the
# sub-second ones more than once so their per-run medians rest on more
# than one sample
READ_DECK = (
    ["point_get"] * 3
    + ["multi_get", "scan", "scan_merged", "fast_count"] * 2
    + ["scanner", "wide_scan"]
)


def ts_of(offset_us: int) -> dt.datetime:
    return TS0 + dt.timedelta(microseconds=int(offset_us))


def offsets_of(ts_values) -> np.ndarray:
    """µs offsets since T0 of a pandas/numpy datetime column."""
    return (np.asarray(ts_values).astype("datetime64[us]").astype(np.int64)) - gen.T0_US


_PROBE_DATA = np.random.default_rng(0).random(300_000)
_PROBE_BLOB = bytes(2 << 20)
_PING: queue.SimpleQueue = queue.SimpleQueue()
_PONG: queue.SimpleQueue = queue.SimpleQueue()
_PROBE_CORES = len(os.sched_getaffinity(0))
_probe_pool: ThreadPoolExecutor | None = None


def _echo() -> None:
    while True:
        _PONG.put(_PING.get())


def probe_s() -> float:
    """Seconds of a fixed amount of work that calls none of the program,
    shaped like the work of a Spark call: a numpy sort and a Python loop
    on one core, 300 hand-offs to another thread and back, and a SHA-256
    of 2 MiB on every usable core at once (hashlib drops the GIL), which
    waits for the slowest core as a stage waits for its slowest task. So
    how fast the host runs at the moment."""
    global _probe_pool
    if _probe_pool is None:
        threading.Thread(target=_echo, daemon=True).start()
        _probe_pool = ThreadPoolExecutor(_PROBE_CORES)
    t = time.perf_counter()
    np.sort(_PROBE_DATA)
    sum(i * i for i in range(100_000))
    for i in range(300):
        _PING.put(i)
        _PONG.get()
    list(_probe_pool.map(lambda _: hashlib.sha256(_PROBE_BLOB).digest(), range(_PROBE_CORES)))
    return time.perf_counter() - t


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Call:
    __slots__ = ("kind", "s", "rows", "ok", "span", "extra", "out")

    def __init__(self, kind, s, rows, ok, span, extra, out):
        self.kind, self.s, self.rows, self.ok, self.span, self.extra, self.out = kind, s, rows, ok, span, extra, out


class Run:
    """State one workload run shares: session, tracer, seeded rng and
    the record of every timed call."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, log):
        self.spark = spark
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 99])
        self.seconds = seconds
        self.work = work
        self.log = log
        self.calls: list[Call] = []
        self.timed = True
        self.phase_start = self.phase_end = 0.0
        self.layer: dict = {}  # per-layer numbers gathered outside calls
        self.probes: list[float] = []  # probe_s() before each timed call

    def call(self, kind, build, consume, check=None, rows_of=len) -> Call:
        """Time ``consume(build())`` as one call, then check the result
        untimed; whatever ``check`` returns is kept as ``Call.extra``.
        ``rows_of`` maps the consumed result to the row count the call
        moved. Warm-up calls keep their result as ``Call.out``."""
        tr = self.tracer
        out, ok, sp = None, True, None
        if self.timed:
            self.probes.append(probe_s())
        t0 = time.perf_counter()
        try:
            with tr.span(kind) as sp:
                with tr.span(kind + "/build"):
                    obj = build()
                with tr.span(kind + "/exec"):
                    out = consume(obj)
        except Exception:
            ok = False
            self.log(f"{kind}: raised\n{traceback.format_exc()}")
        s = time.perf_counter() - t0
        extra = None
        if ok and check is not None:
            try:
                extra = check(out)
            except CheckFailed as e:
                ok = False
                self.log(f"{kind}: wrong result: {e}")
            except Exception:
                ok = False
                self.log(f"{kind}: result check raised\n{traceback.format_exc()}")
        c = Call(kind, s, rows_of(out) if ok else 0, ok, sp, extra, None if self.timed else out)
        if self.timed:
            self.calls.append(c)
        elif not ok:
            raise RuntimeError(f"warm-up call {kind} failed")
        return c

    def check(self, what: str, fn) -> bool:
        """An untimed correctness check outside any call; a failure
        counts as one failed operation."""
        try:
            fn()
            ok = True
        except CheckFailed as e:
            self.log(f"{what}: wrong result: {e}")
            ok = False
        except Exception:
            self.log(f"{what}: raised\n{traceback.format_exc()}")
            ok = False
        if self.timed:
            self.calls.append(Call("check:" + what, 0.0, 0, ok, None, None, None))
        elif not ok:
            raise RuntimeError(f"warm-up check {what} failed")
        return ok

    def begin_timed(self) -> None:
        self.timed = True
        self.phase_start = time.time()

    def end_timed(self) -> None:
        self.phase_end = time.time()

    def out_of_time(self) -> bool:
        return time.time() - self.phase_start >= self.seconds


def range_check(ref: gen.EventsRef, lo: int, hi: int):
    """Check of an ordered range read of ``[lo, hi)``: row count, exact
    key checksum and non-decreasing key order."""
    n_ref, sum_ref = ref.range_of(lo, hi)

    def check(offs: np.ndarray):
        expect(len(offs) == n_ref, f"rows {len(offs)} != {n_ref}")
        expect(int(offs.sum()) == sum_ref, "key checksum differs")
        expect(bool(np.all(offs[1:] >= offs[:-1])), "keys out of order")

    return check


def ordered_ts(df) -> np.ndarray:
    """Consume an ordered scan in order. Arrow ``toPandas`` keeps the
    row order the scan promises; a ``count()`` would let the optimizer
    drop the order restore altogether and time nothing of it."""
    return offsets_of(df.select("ts").toPandas()["ts"])


def point_get_check(idx: int | None):
    def check(rows):
        if idx is None:
            expect(len(rows) == 0, f"absent key returned {len(rows)} rows")
        else:
            expect(len(rows) == 1, f"hit returned {len(rows)} rows")
            expect(rows[0]["event_id"] == idx, "wrong row")

    return check


def salt_skew(table) -> float:
    """Largest salt bucket's row count over the mean, from describe()."""
    per = [r["n_rows"] for r in table.describe().select("n_rows").collect()]
    return max(per) / (sum(per) / len(per))


def files_per_salt(table) -> float:
    per = [r["n_files"] or 0 for r in table.describe().select("n_files").collect()]
    return sum(per) / len(per)


# ---------------------------------------------------------------- kv_mix


class StreamProgress:
    """Progress events of every streaming query, by query name. The
    memory-sink drain keeps its query handle to itself, so its
    ``recentProgress`` is only reachable through a listener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, e):
                pass

            def onQueryProgress(self, e):
                p = json.loads(e.progress.json)
                events.setdefault(p["name"], []).append(p)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self.spark, self.events, self._listener = spark, events, Listener()
        spark.streams.addListener(self._listener)

    def wait(self, name: str, timeout_s: float = 10.0) -> list:
        """The progress events of query ``name`` (delivered
        asynchronously, so wait briefly for the first)."""
        end = time.time() + timeout_s
        while name not in self.events and time.time() < end:
            time.sleep(0.05)
        return self.events.get(name, [])

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


class KVMix:
    """The salted key-value table, read and written.

    Set-up bulk-loads a seeded events table. Each timed unit is one
    shuffled round of the read deck over it — point gets, batch gets,
    narrow and wide ordered scans, the merged scan, the driver-side
    scanner, range counts — then one write cycle into a fresh table: a
    salted bulk write and its zone map, a backlog of event files drained
    through the streaming salted ingest one file per epoch, reads after
    the writes, a windowed aggregation over the same files, and a
    compaction."""

    name = "kv_mix"
    # read latencies make call_p50_gm_ms; write-path rows and time make rows_per_s
    READ_KINDS = tuple(dict.fromkeys(READ_DECK))
    LATENCY = READ_KINDS + ("point_get_after_write", "scan_after_write")
    THROUGHPUT = ("write", "build_zone_map", "ingest", "window_agg", "compact")

    def inputs(self, path: str, seed: int) -> None:
        self.read_dir = gen.kv_read_inputs(os.path.join(path, "read"), seed, KV_READ_ROWS)
        self.ref = gen.EventsRef(np.load(os.path.join(self.read_dir, "ts_offsets.npy")))
        self.shape = (KV_WRITE_BATCH, KV_WRITE_FILES, KV_WRITE_FILE_ROWS)
        self.write_dir = gen.kv_write_inputs(os.path.join(path, "write"), seed, *self.shape)

    def setup(self, run: Run) -> None:
        from hbasewd_spark.plans.distributor import HashDistributor
        from hbasewd_spark.sources.salted_table import SaltedTable

        self.cycles = 0
        self.progress = StreamProgress(run.spark) if run.tracer.enabled else None
        src = run.spark.read.parquet(os.path.join(self.read_dir, "events"))
        self.table = SaltedTable.write(
            src, os.path.join(run.work, "kv_read"), HashDistributor(BUCKETS), "ts",
            zone_map_cols=["ts"],
        )

    def warmup(self, run: Run) -> None:
        # one call per distinct read path. Not multi_get and the wide
        # scan, which run the point-get and scan paths; not the scanner,
        # which runs one job per salt bucket, so its first job warms the
        # rest and a warm-up call would cost as much as the call it warms
        for kind in ("point_get", "scan", "scan_merged", "fast_count"):
            self.read(run, kind)

    def timed(self, run: Run) -> None:
        while True:
            for kind in run.rng.permutation(READ_DECK):
                self.read(run, str(kind))
            self.write_cycle(run)
            if run.out_of_time():
                return

    # ------------------------------------------------------------ reads
    def _key(self, run: Run) -> tuple[int, int | None]:
        """A probe key: about half from the newest 5% of the span, the
        rest uniform, and a tenth absent (a stored key plus 1 µs)."""
        n = len(self.ref.offsets)
        lo = int(n * 0.95) if run.rng.random() < 0.5 else 0
        i = int(run.rng.integers(lo, n))
        if run.rng.random() < 0.1:
            return int(self.ref.offsets[i]) + 1, None
        return int(self.ref.offsets[i]), i

    def _window(self, run: Run, frac: float) -> tuple[int, int]:
        span = int(self.ref.offsets[-1])
        w = int(span * frac)
        lo = int(run.rng.integers(0, span - w))
        return lo, lo + w

    def read(self, run: Run, kind: str) -> Call:
        t = self.table
        if kind == "point_get":
            off, idx = self._key(run)
            return run.call(kind, lambda: t.point_get(ts_of(off)), lambda d: d.collect(), point_get_check(idx))
        if kind == "multi_get":
            keys = [self._key(run) for _ in range(10)]
            want = sorted({i for _, i in keys if i is not None})

            def check(rows):
                expect(sorted(r["event_id"] for r in rows) == want, "wrong row set")

            return run.call(
                kind, lambda: t.multi_get([ts_of(o) for o, _ in keys]), lambda d: d.collect(), check
            )
        if kind in ("scan", "scan_merged", "wide_scan"):
            lo, hi = self._window(run, 0.1 if kind == "wide_scan" else 0.015)
            fn = t.scan_merged if kind == "scan_merged" else t.scan
            return run.call(kind, lambda: fn(ts_of(lo), ts_of(hi)), ordered_ts, range_check(self.ref, lo, hi))
        if kind == "scanner":
            lo, hi = self._window(run, 0.015)
            first = []

            def drain(it):
                out = []
                for row in it:
                    if not out:
                        first.append(time.perf_counter())
                    out.append(row["ts"])
                return offsets_of(np.array(out, dtype="datetime64[us]"))

            t0 = time.perf_counter()
            c = run.call(kind, lambda: t.scanner(ts_of(lo), ts_of(hi)), drain, range_check(self.ref, lo, hi))
            c.extra = {"first_row_ms": (first[0] - t0) * 1000.0 if first else c.s * 1000.0}
            return c
        if kind == "fast_count":
            lo, hi = self._window(run, 0.05)
            n_ref = self.ref.range_of(lo, hi)[0]

            def check(n):
                expect(n == n_ref, f"count {n} != {n_ref}")

            return run.call(
                kind, lambda: (ts_of(lo), ts_of(hi)), lambda b: t.fast_count(*b), check, rows_of=lambda n: 1
            )
        raise ValueError(kind)

    # ----------------------------------------------------------- writes
    def write_cycle(self, run: Run) -> None:
        from hbasewd_spark.plans.distributor import HashDistributor
        from hbasewd_spark.sources.salted_table import SaltedTable, compact
        from hbasewd_spark.streaming import ingest as I

        batch_rows, files, file_rows = self.shape
        total = batch_rows + files * file_rows
        inp, spark = self.write_dir, run.spark
        self.cycles += 1
        cdir = os.path.join(run.work, f"kv_write-{self.cycles}")
        path = os.path.join(cdir, "table")
        # the stream source is named like a table of the repo's data
        # layout, so the program's own state-partition sizing applies
        src = os.path.join(cdir, "events.parquet")
        os.makedirs(src)
        offs = np.load(os.path.join(inp, "ts_offsets.npy"))
        ref = gen.EventsRef(offs)
        dist = HashDistributor(BUCKETS)
        batch = spark.read.parquet(os.path.join(inp, "batch"))
        schema = batch.schema

        # the write and its zone map are timed apart: together they are
        # SaltedTable.write(..., zone_map_cols=["ts"])
        run.call("write", lambda: batch, lambda d: SaltedTable.write(d, path, dist, "ts"), rows_of=lambda _: batch_rows)
        table = SaltedTable.load(spark, path)
        run.call("build_zone_map", lambda: table, lambda t: t.build_zone_map("ts"), rows_of=lambda _: 0)

        def stream():
            return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

        def drain(s):
            q = I.salted_stream_ingest(s, path, dist, "ts", os.path.join(cdir, "ingest_ck"))
            q.awaitTermination()
            return q.recentProgress

        def ingest_check(prog):
            expect(len(prog) == files, f"{len(prog)} epochs for {files} files")
            expect(all(p["numInputRows"] == file_rows for p in prog), "an epoch did not take one whole file")
            return prog

        for f in sorted(os.listdir(os.path.join(inp, "backlog"))):
            shutil.copy(os.path.join(inp, "backlog", f), src)
        run.call("ingest", stream, drain, ingest_check, rows_of=lambda prog: sum(p["numInputRows"] for p in prog))
        table.refresh()
        # read after write: a key of the batch, one of the newest
        # ingested keys, and a narrow scan over the newest keys
        for i in (int(run.rng.integers(0, batch_rows)), total - 1 - int(run.rng.integers(0, 100))):
            run.call(
                "point_get_after_write", lambda: table.point_get(ts_of(offs[i])), lambda d: d.collect(),
                point_get_check(i),
            )
        lo, hi = int(offs[total - 2_000]), int(offs[-1]) + 1
        run.call("scan_after_write", lambda: table.scan(ts_of(lo), ts_of(hi)), ordered_ts, range_check(ref, lo, hi))
        run.check("exactly_once", lambda: self._check_table(spark, path, ref, total))

        name = f"window_agg_{self.cycles}"
        with open(os.path.join(inp, "window_ref.json")) as f:
            want = [[h, e, n, c / 100] for h, e, n, c in json.load(f)]

        def agg_check(pdf):
            hour0 = gen.T0_US // 3_600_000_000
            got = sorted(
                [int(r.window_start.value // 3_600_000_000_000) - hour0, r.event_type, int(r.n), r.sum_value]
                for r in pdf.itertuples()
            )
            expect(got == want, f"{len(got)} window rows differ from the reference ({len(want)})")
            return {"input_rows": files * file_rows}

        run.call(
            "window_agg",
            lambda: I.windowed_agg_stream(stream()),
            lambda agg: I.run_stream_to_memory(spark, agg, name, I.scaled_state_partitions(spark, cdir)).toPandas(),
            agg_check,
            rows_of=lambda _: 0,
        )
        spark.catalog.dropTempView(name)
        if self.progress is not None:
            run.layer.setdefault("window_agg_progress", []).append(self.progress.wait(name))
            run.layer.setdefault("salted_table.files_per_salt.before_compact", []).append(files_per_salt(table))
            run.layer.setdefault("distributor.salt_rows_max_over_mean", []).append(salt_skew(table))
        run.call("compact", lambda: table, compact, rows_of=lambda _: 0)
        run.check("compact_keeps_rows", lambda: self._check_table(spark, path, ref, total))
        given = dir_bytes(os.path.join(inp, "batch")) + dir_bytes(os.path.join(inp, "backlog"))
        run.layer.setdefault("stored_bytes_per_input_byte", []).append(dir_bytes(path) / given)
        if self.progress is not None:
            compacted = SaltedTable.load(spark, path)
            run.layer.setdefault("salted_table.files_per_salt.after_compact", []).append(files_per_salt(compacted))

    @staticmethod
    def _check_table(spark, path, ref, total) -> None:
        """Row count, distinct event ids and key checksum of the whole
        table: every input row landed exactly once."""
        from pyspark.sql import functions as F

        r = (
            spark.read.parquet(path)
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("event_id").alias("ids"),
                F.sum(F.unix_micros("ts") - F.lit(gen.T0_US)).alias("sum_ts"),
            )
            .collect()[0]
        )
        n_ref, sum_ref = ref.range_of(0, int(ref.offsets[-1]) + 1)
        expect(n_ref == total, "reference size")
        expect(r["n"] == total, f"{r['n']} rows, expected {total}")
        expect(r["ids"] == total, f"{total - r['ids']} duplicate event_id")
        expect(int(r["sum_ts"]) == sum_ref, "key checksum differs")

    def describe_layers(self, run: Run) -> None:
        run.layer.setdefault("distributor.salt_rows_max_over_mean", []).append(salt_skew(self.table))

    def close(self) -> None:
        if getattr(self, "progress", None) is not None:
            self.progress.close()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- corpus_dedup


class CorpusDedup:
    """MinHash near-duplicate pairs, their clusters, the corpus-curation
    query, and an LSH index built over 90% of the corpus and probed with
    the other 10%. Every iteration reads a fresh corpus directory: the
    program caches dedup frames per (session, corpus path), so a reused
    path would serve an earlier iteration's work."""

    name = "corpus_dedup"
    # the five calls are one pipeline: their latencies make
    # call_p50_gm_ms, documents over their total time make rows_per_s
    LATENCY = THROUGHPUT = ("minhash_pairs", "clusters", "corpus_curation", "index_build", "index_probe")

    def inputs(self, path: str, seed: int) -> None:
        self.path, self.seed = path, seed
        self.warm = gen.corpus_input(os.path.join(path, "warmup"), seed * 1000, DEDUP_WARMUP_DOCS)
        self.next_corpus()

    def next_corpus(self) -> None:
        """Generate the next iteration's corpus, each under its own seed
        and path."""
        self.used = getattr(self, "used", 0) + 1
        self.corpus = gen.corpus_input(
            os.path.join(self.path, f"corpus-{self.used}"), self.seed * 1000 + self.used, DEDUP_DOCS
        )

    def setup(self, run: Run) -> None:
        pass

    def warmup(self, run: Run) -> None:
        self.warm_calls = self.iteration(run, self.warm, DEDUP_WARMUP_DOCS)

    def verify_warmup(self, run: Run) -> None:
        """Pairs and curation of the warm-up corpus against the
        registry's DuckDB oracle SQL."""
        import duckdb

        from hbasewd_spark import queries as Q
        from hbasewd_spark.operators import dedup as DD

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet('"
                + os.path.join(self.warm, "documents.parquet").replace("'", "''")
                + "')"
            )
            pairs = con.execute(DD.minhash_pairs_oracle()).fetchdf()
            cur = con.execute(Q.REGISTRY["ext_pipeline_corpus_curation"].oracle).fetchdf()
        finally:
            con.close()
        got = self.warm_calls["minhash_pairs"].out
        expect(len(pairs) > 0, "the warm-up corpus has no near-duplicate pairs")
        expect(
            sorted(zip(pairs.doc_a, pairs.doc_b)) == sorted(zip(got.doc_a, got.doc_b)),
            f"pairs differ from the oracle ({len(got)} vs {len(pairs)})",
        )
        got = self.warm_calls["corpus_curation"].out
        cols = ["source", "n_docs", "total_tokens", "sum_quality"]
        expect(
            sorted(cur[cols].itertuples(index=False, name=None)) == sorted(got[cols].itertuples(index=False, name=None)),
            "curation differs from the oracle",
        )

    def timed(self, run: Run) -> None:
        for i in itertools.count(1):
            self.iteration(run, self.corpus, DEDUP_DOCS)
            if i >= DEDUP_MIN_ITERATIONS and run.out_of_time():
                return
            t = time.time()
            self.next_corpus()
            run.phase_start += time.time() - t  # generation is not measured time

    def iteration(self, run: Run, d: str, n_docs: int) -> dict:
        from pyspark.sql import functions as F

        from hbasewd_spark import queries as Q
        from hbasewd_spark.operators import dedup as DD
        from hbasewd_spark.operators import minhash_index as MI

        spark = run.spark
        out = {}

        def pairs_check(pdf):
            expect(bool((pdf.doc_a < pdf.doc_b).all()), "pair not ordered doc_a < doc_b")
            return {"pairs": len(pdf)}

        out["minhash_pairs"] = run.call(
            "minhash_pairs", lambda: DD.minhash_dedup_pairs(spark, d), lambda df: df.toPandas(),
            pairs_check, rows_of=lambda _: n_docs,  # every document enters the pipeline here
        )

        def clusters_check(pdf):
            expect(bool((pdf.groupby("cluster_id").is_canonical.sum() == 1).all()), "a cluster without exactly one canonical doc")
            expect(bool((pdf.cluster_id <= pdf.doc_id).all()), "cluster id is not the component minimum")

        out["clusters"] = run.call(
            "clusters", lambda: DD.dedup_clusters(spark, d), lambda df: df.toPandas(), clusters_check,
            rows_of=lambda _: 0,
        )
        out["corpus_curation"] = run.call(
            "corpus_curation",
            lambda: Q.REGISTRY["ext_pipeline_corpus_curation"].fn(spark, d),
            lambda df: df.toPandas(),
            lambda pdf: expect(0 < int(pdf.n_docs.sum()) <= n_docs, "curation kept an impossible doc count"),
            rows_of=lambda _: 0,
        )
        docs = spark.read.parquet(os.path.join(d, "documents.parquet")).select("doc_id", "text")
        idx = os.path.join(run.work, "mhidx", os.path.basename(d))
        out["index_build"] = run.call(
            "index_build",
            lambda: docs.where(F.pmod("doc_id", F.lit(10)) != 0),
            lambda corpus: MI.build_minhash_index(spark, corpus, idx),
            rows_of=lambda _: 0,
        )

        def probe_check(pdf):
            expect(bool((pdf.new_doc_id % 10 == 0).all()), "probe pair with a corpus-side new doc")
            expect(bool((pdf.corpus_doc_id % 10 != 0).all()), "probe pair with a batch-side corpus doc")
            expect(bool((pdf.jaccard >= DD.JACCARD_THRESHOLD).all()), "probe pair under the threshold")

        out["index_probe"] = run.call(
            "index_probe",
            lambda: MI.dedup_against_index(spark, docs.where(F.pmod("doc_id", F.lit(10)) == 0), idx),
            lambda df: df.toPandas(),
            probe_check,
            rows_of=lambda _: 0,
        )
        return out

    def describe_layers(self, run: Run) -> None:
        pass

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (KVMix, CorpusDedup)}
