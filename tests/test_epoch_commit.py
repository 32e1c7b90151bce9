"""The streaming epoch commit at metadata cost: a Hadoop path is one
py4j command, a pure-append epoch maintains its zone sidecars without
a Spark job, and a stage that loses a file between the stage write and
the commit still raises so the epoch replays exactly once."""

import contextlib

import pytest
from pyspark.sql import functions as F

import hbasewd_spark.streaming.ingest as ing
from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.salted_table import SaltedTable

T0_US = 1_700_000_000_000_000


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.timestamp_micros(F.lit(T0_US) + F.col("id") * 1000).alias("ts"),
        F.col("id").alias("v"),
    )


def _jobs_under_group(spark, group, fn):
    """``(fn(), ids of the Spark jobs fn ran)``, read from the status
    tracker once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_fs_path_is_one_py4j_command(spark, tmp_path):
    fs = Fs(spark, str(tmp_path))
    fs.path(str(tmp_path / "warm"))
    client = spark._jvm._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *a, **kw):
        sent.append(command)
        return real(command, *a, **kw)

    client.send_command = counting
    try:
        p = fs.path(str(tmp_path / "x"))
    finally:
        del client.send_command
    assert len(sent) == 1, sent
    assert str(p).endswith("/x")


def test_epoch_sidecar_maintenance_runs_no_spark_job(spark, tmp_path, monkeypatch):
    t = SaltedTable.write(
        _rows(spark, 0, 2000),
        str(tmp_path / "t"),
        HashDistributor(4),
        "ts",
        zone_map_cols=["ts"],
    )
    assert t._zone_sidecar_df("ts") is not None
    real = SaltedTable.maintain_sidecars_incremental
    seen = {}

    def grouped(self, pre_sig, removed, added):
        seen["updated"], seen["jobs"] = _jobs_under_group(
            spark,
            "epoch-sidecars",
            lambda: real(self, pre_sig, removed, added),
        )
        return seen["updated"]

    monkeypatch.setattr(SaltedTable, "maintain_sidecars_incremental", grouped)
    ing.idempotent_salted_batch_write(_rows(spark, 2000, 2500), 1, t.path, t.distributor, "ts")
    assert seen["updated"] == ["ts"]
    assert seen["jobs"] == []
    monkeypatch.undo()

    t.refresh()
    assert t._zone_sidecar_df("ts") is not None  # restamped fresh
    maintained = sorted(t._zone_table("ts").to_pylist(), key=lambda r: r["file"])
    t.build_zone_map("ts")
    t.refresh()
    rebuilt = sorted(t._zone_table("ts").to_pylist(), key=lambda r: r["file"])
    assert maintained == rebuilt and len(rebuilt) > 4
    assert t.fast_count() == 2500


def test_staged_file_lost_before_commit_raises_then_replays_once(
    spark, tmp_path, monkeypatch
):
    t = SaltedTable.write(
        _rows(spark, 0, 300), str(tmp_path / "t"), HashDistributor(4), "ts"
    )
    fs = Fs(spark, t.path)
    stage = t.path.rstrip("/") + "/.staging-epoch-5"
    batch = _rows(spark, 300, 400)
    real_lock = ing._epoch_commit_lock
    lost = []

    @contextlib.contextmanager
    def losing_lock(lfs, dest_path, epoch_id, timeout_s, poll_s=0.2):
        victim = fs.glob(f"{stage}/salt=*/*.parquet")[0]
        fs.delete(victim)
        lost.append(victim)
        with real_lock(lfs, dest_path, epoch_id, timeout_s, poll_s):
            yield

    monkeypatch.setattr(ing, "_epoch_commit_lock", losing_lock)
    with pytest.raises(RuntimeError, match="vanished before commit"):
        ing.idempotent_salted_batch_write(batch, 5, t.path, t.distributor, "ts")
    assert lost
    assert fs.exists(stage + "/" + ing.STAGE_MANIFEST)  # stage kept
    assert not fs.glob(t.path.rstrip("/") + "/salt=*/epoch-*.parquet")

    monkeypatch.setattr(ing, "_epoch_commit_lock", real_lock)
    ing.idempotent_salted_batch_write(batch, 5, t.path, t.distributor, "ts")
    t.refresh()
    got = sorted(r.v for r in t.df().select("v").collect())
    assert got == list(range(400))
    assert not fs.glob(t.path.rstrip("/") + "/.staging-epoch-*")
