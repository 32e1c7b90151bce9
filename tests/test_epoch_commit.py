"""The streaming epoch commit at metadata cost: a Hadoop path is one
py4j command, an epoch commit lists no data files and loads no table
(the parquet footers are the zone metadata, so nothing needs
maintaining), and a stage that loses a file between the stage write
and the commit still raises so the epoch replays exactly once."""

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


def test_epoch_commit_lists_and_loads_nothing(spark, tmp_path, monkeypatch):
    """An epoch onto a table written with ``zone_map_cols`` commits with
    no data-file listing and no table load: the parquet footers are its
    zone metadata, so there is no zone copy to keep fresh. The zones
    afterwards are the column scan's, and the count is exactly-once."""
    t = SaltedTable.write(
        _rows(spark, 0, 2000),
        str(tmp_path / "t"),
        HashDistributor(4),
        "ts",
        zone_map_cols=["ts"],
    )
    fs = Fs(spark, t.path)
    calls = {"sig": 0, "load": 0}
    real_sig, real_load = SaltedTable._data_signature, SaltedTable.load.__func__

    def counting_sig(self, fs_):
        calls["sig"] += 1
        return real_sig(self, fs_)

    def counting_load(cls, spark_, path):
        calls["load"] += 1
        return real_load(cls, spark_, path)

    monkeypatch.setattr(SaltedTable, "_data_signature", counting_sig)
    monkeypatch.setattr(SaltedTable, "load", classmethod(counting_load))
    ing.idempotent_salted_batch_write(_rows(spark, 2000, 2500), 1, t.path, t.distributor, "ts")
    assert calls == {"sig": 0, "load": 0}
    monkeypatch.undo()

    assert not fs.exists(f"{t.path}/_zone_maps")
    t.refresh()
    zones = sorted(tuple(r) for r in spark.createDataFrame(t._zone_table("ts")).collect())
    assert zones == sorted(tuple(r) for r in t.zone_map("ts").collect())
    assert len(zones) > 4
    assert t.fast_count() == 2500


def test_staged_file_lost_before_commit_raises_then_replays_once(
    spark, tmp_path, monkeypatch
):
    t = SaltedTable.write(
        _rows(spark, 0, 300), str(tmp_path / "t"), HashDistributor(4), "ts"
    )
    fs = Fs(spark, t.path)
    stage = t.path.rstrip("/") + ".staging-epoch-5"
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
    assert not fs.glob(t.path.rstrip("/") + ".staging-epoch-*")


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_epoch_onto_any_format_lands_exactly_once(spark, tmp_path, fmt):
    """An epoch lands in the table's own format (CSV with its header),
    so every format reads its rows back exactly once, and a replay of
    the same epoch id still holds them exactly once."""

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )

    t = SaltedTable.write(rows(0, 100), str(tmp_path / fmt), HashDistributor(4), "k", fmt=fmt)
    fs = Fs(spark, t.path)
    want = [(i, 3 * i) for i in range(150)]
    for _ in range(2):  # the epoch, then its replay
        ing.idempotent_salted_batch_write(rows(100, 150), 1, t.path, t.distributor, "k")
        got = SaltedTable.load(spark, t.path).scan().select("k", "v").collect()
        assert sorted(tuple(r) for r in got) == want
    landed = fs.glob(t.path.rstrip("/") + "/salt=*/epoch-*")
    assert landed and all(p.endswith("." + fmt) for p in landed), landed
