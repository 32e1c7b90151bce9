"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kv_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(and cached by workload and seed) under ``.perfbench_work/`` in the
checkout; everything the run writes stays there. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans as a
sidecar under ``.perfbench_work/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def host() -> dict:
    """What a result depends on and may only be compared across if it
    matches: usable cores and physical memory."""
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gib": round(mem_kib / 2**20, 1)}


def cpu_times() -> list[int]:
    """The aggregate jiffy counters of /proc/stat's cpu line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: a run with a high share ran on a contended
    host and should not be compared."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def pin_host(h: dict, run_dir: str) -> None:
    """Size the session to this host and keep every file Spark and the
    JVM write inside the run directory. Must run before pyspark starts
    the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TZ="UTC",  # the key literals are naive UTC datetimes
        SPARK_GRAFT_CPUS=str(h["nproc"]),
        # a quarter of physical memory, at least 1 GiB: the heap must
        # never push a shared host into swap or the OOM killer
        SPARK_DRIVER_MEMORY=f"{max(1, int(h['mem_gib'] // 4))}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        # no console progress bar on stdout; keep every stage of a run
        # in the status store so the traced totals cover the whole run
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.ui.retainedJobs=100000",
                "pyspark-shell",
            ]
        ),
    )
    time.tzset()


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM leaves when
    the stdin pipe pyspark launched it with closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hbasewd_spark")):
        log(f"no hbasewd_spark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import report
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    h = host()
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        inputs = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}")
        os.makedirs(inputs, exist_ok=True)
        os.utime(inputs)  # most recently used: kept by the pruning below
        wl.inputs(inputs, args.seed)
        gen.prune_inputs(os.path.dirname(inputs))
        pin_host(h, run_dir)

        from hbasewd_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        run = workloads.Run(spark, Tracer(spark, run_id, bool(args.trace)), args.seed, args.seconds, run_dir, log)
        run.timed = False
        t1 = time.perf_counter()
        wl.setup(run)
        t2 = time.perf_counter()
        wl.warmup(run)
        t3 = time.perf_counter()
        run.timed = True
        if hasattr(wl, "verify_warmup"):
            run.check("warmup_oracle", lambda: wl.verify_warmup(run))
        run.begin_timed()
        jiffies = cpu_times()
        wl.timed(run)
        run.end_timed()
        h["steal_frac"] = round(steal_frac(jiffies, cpu_times()), 4)
        setup = {"session.start_s": start_s, "session.load_s": t2 - t1, "session.warmup_s": t3 - t2}
        log(
            "set-up " + " ".join(f"{k}={v:.2f}" for k, v in setup.items())
            + f" timed={run.phase_end - run.phase_start:.2f}"
        )
        if args.trace:
            wl.describe_layers(run)
            metrics = report.per_layer(run, wl, setup)
            sidecar = os.path.join(WORK, "traces", f"{run_id}.json")
            os.makedirs(os.path.dirname(sidecar), exist_ok=True)
            run.tracer.write(sidecar, {"workload": args.workload, "seed": args.seed, "host": h, "metrics": metrics})
            print(f"trace sidecar: {os.path.relpath(sidecar, ROOT)}")
        else:
            metrics = report.end_to_end(run, wl, t3 - t0)
            for line in report.named_lines(run, wl):
                print(line)
    except Exception:
        import traceback

        log(f"run failed\n{traceback.format_exc()}")
        return 1
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not c.ok for c in run.calls)
    print(f"host: {json.dumps(h)}")
    report.record(os.path.join(WORK, "results.jsonl"), args, h, run_id, metrics)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(run.calls),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
