"""vacuum() — GC of crash-protocol artifacts (r11).

The invariants under test mirror the swap protocol's own: vacuum may
only delete what is provably redundant, and the proof is "a loadable
table exists at base while we hold the lifecycle lock". Every refusal
state must delete NOTHING.
"""

import json

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.salted_table import (
    META_FILE,
    SaltedTable,
    vacuum,
)


def _plant_artifacts(spark, t):
    """Fabricate the full leftover taxonomy around a live table:
    aside copy, hoist (left by older engine versions), two verb tmp
    stages, one streaming stage."""
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    for sib in (base + ".old", base + ".hoist", base + ".compact_tmp"):
        fs.copy(base, sib)
    fs.mkdirs(base + ".rebucket_tmp/salt=0")
    fs.mkdirs(base + ".staging-epoch-42/salt=0")
    fs.write_text(base + ".staging-epoch-42/_stage_manifest.json", "{}")
    return fs, base


def test_vacuum_reclaims_all_sibling_artifacts(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "vac"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs, base = _plant_artifacts(spark, t)

    report = vacuum(t)  # default: streaming stages kept
    gone = {p.rsplit("/", 1)[-1] for p in report["deleted"]}
    assert gone == {
        "vac.old",
        "vac.hoist",
        "vac.compact_tmp",
        "vac.rebucket_tmp",
    }, report
    for sib in (".old", ".hoist", ".compact_tmp", ".rebucket_tmp"):
        assert not fs.exists(base + sib)
    # streaming stage kept by default, with the opt-in hint
    assert fs.exists(base + ".staging-epoch-42")
    assert any(
        "staging_older_than_s" in k["reason"] for k in report["kept"]
    )
    # the live table is untouched and the lock was released
    assert SaltedTable.load(spark, base).df().count() == n
    assert not fs.exists(SaltedTable.lock_path(base))

    # second pass with a zero retention window reclaims the aged stage
    report2 = vacuum(t, staging_older_than_s=0)
    assert any(p.endswith("vac.staging-epoch-42") for p in report2["deleted"])
    assert not fs.exists(base + ".staging-epoch-42")

    # idempotent: nothing left to do
    report3 = vacuum(t, staging_older_than_s=0)
    assert report3 == {"deleted": [], "kept": []}


def test_vacuum_keeps_aside_copy_when_counts_diverge(spark, kv, tmp_path):
    """The non-atomic-rename-store guard (review r11): META at base is
    not proof of completeness, so .old/.hoist are deleted only when
    base's row count equals the sibling's. A base that lost files
    (simulating a partial copy) must keep the aside copy."""
    t = SaltedTable.write(
        kv, str(tmp_path / "vacdiverge"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    fs.copy(base, base + ".old")
    # base becomes a "partial copy": drop one data file (META survives)
    victim = next(
        p
        for p in fs.glob(base + "/salt=*/*")
        if not p.rsplit("/", 1)[1].startswith((".", "_"))
    )
    fs.delete(victim)
    report = vacuum(t)
    assert report["deleted"] == []
    assert any(
        "row counts diverge" in k["reason"] for k in report["kept"]
    ), report
    assert fs.exists(base + ".old/" + META_FILE), "only complete copy kept"
    # a *_tmp sibling is still reclaimable in this state (always derived)
    fs.mkdirs(base + ".compact_tmp")
    report2 = vacuum(t)
    assert [p.rsplit("/", 1)[-1] for p in report2["deleted"]] == [
        "vacdiverge.compact_tmp"
    ]
    assert fs.exists(base + ".old/" + META_FILE)


def test_vacuum_keeps_aside_copy_when_count_unprovable(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "vacunprov"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    fs.copy(base, base + ".old")
    # corrupt the aside copy's metadata: its count cannot be established
    fs.write_text(base + ".old/" + META_FILE, "{not json")
    report = vacuum(t)
    assert report["deleted"] == []
    assert any(
        "unprovable" in k["reason"] for k in report["kept"]
    ), report
    assert fs.exists(base + ".old")


def test_vacuum_dry_run_is_lock_free_and_non_mutating(spark, kv, tmp_path):
    """Review r11: lock acquisition itself mutates (dead-holder
    takeover, crashed-expire recovery), so dry_run must not acquire it
    — it works under a live holder's lock and leaves a crashed expire
    stage untouched."""
    import os, socket

    t = SaltedTable.write(
        kv, str(tmp_path / "vacdryro"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    fs.copy(base, base + ".old")
    # a manifest-less crashed expire stage: the LIVE run's lock
    # acquisition would discard it; dry_run must not
    stage = base + "/" + SaltedTable.EXPIRE_STAGE_DIR
    fs.mkdirs(stage + "/salt=0")
    # an ALIVE lock holder: the live run would raise; dry_run proceeds
    lock = SaltedTable.lock_path(base)
    fs.write_text(
        lock,
        json.dumps(
            {"verb": "compact", "pid": os.getpid(), "host": socket.gethostname()}
        ),
    )
    try:
        report = vacuum(t, dry_run=True)
    finally:
        fs.delete(lock)
    assert [p.rsplit("/", 1)[-1] for p in report["deleted"]] == ["vacdryro.old"]
    assert fs.exists(base + ".old"), "dry_run deleted the aside copy"
    assert fs.exists(stage), "dry_run ran expire-stage recovery"
    assert not fs.exists(lock + ".break"), "dry_run attempted lock takeover"


def test_vacuum_stage_freshness_uses_newest_content(spark, kv, tmp_path, monkeypatch):
    """Review r11: the retention window keys off the newest mtime
    across the stage's contents, and an all-zero mtime (object-store
    synthetic dirs) classifies as fresh, never as infinitely old."""
    import time as _time

    t = SaltedTable.write(
        kv, str(tmp_path / "vacfreshc"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    stage = base + ".staging-epoch-9"
    fs.mkdirs(stage + "/salt=0")
    fs.write_text(stage + "/salt=0/part-0.parquet", "x")
    # the stage dir itself looks old but a file inside is brand new:
    # with a 1h window the stage must be kept even if the dir mtime
    # were stale (here both are fresh; assert the content route runs)
    report = vacuum(t, staging_older_than_s=3600)
    assert report["deleted"] == []
    # zero-mtime store: every stat reports 0 -> "age unknown", kept
    real = Fs.glob_stats

    def zeroed(self, pattern, _real=real):
        return [(p, l, 0) for p, l, _m in _real(self, pattern)]

    monkeypatch.setattr(Fs, "glob_stats", zeroed)
    report = vacuum(t, staging_older_than_s=0)
    monkeypatch.undo()
    assert report["deleted"] == []
    assert any("age unknown" in k["reason"] for k in report["kept"]), report
    assert fs.exists(stage)


def test_vacuum_dry_run_deletes_nothing(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "vacdry"), HashDistributor(4), "key_long"
    )
    fs, base = _plant_artifacts(spark, t)
    report = vacuum(t, staging_older_than_s=0, dry_run=True)
    # classification identical to a live run...
    names = {p.rsplit("/", 1)[-1] for p in report["deleted"]}
    assert names == {
        "vacdry.old",
        "vacdry.hoist",
        "vacdry.compact_tmp",
        "vacdry.rebucket_tmp",
        "vacdry.staging-epoch-42",
    }, report
    # ...but everything is still on disk
    for sib in (".old", ".hoist", ".compact_tmp", ".rebucket_tmp"):
        assert fs.exists(base + sib)
    assert fs.exists(base + ".staging-epoch-42")


def test_vacuum_crash_at_any_delete_leaves_table_intact(
    spark, kv, tmp_path, monkeypatch
):
    """Crash-injection gauntlet for the new verb: kill vacuum at its
    k-th delete for every k; after every crash the live table must be
    loadable with full content, the lock released by rerun via dead-
    holder takeover is not even needed (the context manager's finally
    releases it on the injected error), and a rerun converges."""

    class _Boom(Exception):
        pass

    t = SaltedTable.write(
        kv, str(tmp_path / "vaccrash"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    real_delete = Fs.delete

    def _replant():
        for leftover in (
            base + ".old",
            base + ".hoist",
            base + ".compact_tmp",
            base + ".rebucket_tmp",
            base + ".staging-epoch-42",
        ):
            real_delete(fs, leftover, recursive=True)
        _plant_artifacts(spark, t)

    # one clean pass performs 5 artifact deletes; crash at each
    for k in range(5):
        _replant()
        calls = {"i": 0}

        def crashing(self, p, recursive=False, _real=real_delete, _k=k):
            # only count vacuum's artifact deletes, not the lock release
            if not p.endswith(SaltedTable.LOCK_SUFFIX):
                if calls["i"] == _k:
                    calls["i"] += 1
                    raise _Boom(f"injected at delete #{_k}: {p}")
                calls["i"] += 1
            return _real(self, p, recursive)

        monkeypatch.setattr(Fs, "delete", crashing)
        with pytest.raises(_Boom):
            vacuum(t, staging_older_than_s=0)
        monkeypatch.undo()
        # table intact after every crash point; lock released
        assert fs.exists(base + "/" + META_FILE)
        assert not fs.exists(SaltedTable.lock_path(base))
        assert SaltedTable.load(spark, base).df().count() == n
    # rerun with no injection converges to clean
    vacuum(t, staging_older_than_s=0)
    assert vacuum(t, staging_older_than_s=0) == {"deleted": [], "kept": []}
    assert SaltedTable.load(spark, base).df().count() == n


def test_vacuum_keeps_fresh_streaming_stage(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "vacfresh"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    fs.mkdirs(base + ".staging-epoch-7/salt=1")
    # a just-written stage is inside any sane retention window
    report = vacuum(t, staging_older_than_s=3600)
    assert report["deleted"] == []
    assert fs.exists(base + ".staging-epoch-7")
    assert any("retention" in k["reason"] for k in report["kept"])


def test_vacuum_reclaims_parent_era_in_dir_stage_and_hoist(spark, kv, tmp_path):
    """Tables written by older engine versions can carry an in-dir
    ``base/.staging-epoch-*`` stage and a ``base.hoist`` sibling. The
    in-dir stage gets the same retention rule as a sibling stage (kept
    by default and while fresh, reclaimed once aged); the hoist copy
    gets the aside copy's row-count proof."""
    t = SaltedTable.write(
        kv, str(tmp_path / "vacold"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    stage = base + "/.staging-epoch-3"
    fs.mkdirs(stage + "/salt=0")
    fs.write_text(stage + "/salt=0/part-0.parquet", "x")
    # a hoist copy that is not complete (one data file short) is kept
    fs.copy(base, base + ".hoist")
    victim = next(
        p
        for p in fs.glob(base + ".hoist/salt=*/*")
        if not p.rsplit("/", 1)[1].startswith((".", "_"))
    )
    fs.delete(victim)

    report = vacuum(t)
    assert report["deleted"] == []
    reasons = {k["path"].rsplit("/", 1)[-1]: k["reason"] for k in report["kept"]}
    assert "staging_older_than_s" in reasons[".staging-epoch-3"]
    assert "row counts diverge" in reasons["vacold.hoist"]
    report = vacuum(t, staging_older_than_s=3600)
    assert not any(p.endswith(".staging-epoch-3") for p in report["deleted"])
    assert fs.exists(stage)

    # aged stage and a complete hoist copy: both reclaimed
    fs.delete(base + ".hoist", recursive=True)
    fs.copy(base, base + ".hoist")
    report = vacuum(t, staging_older_than_s=0)
    assert sorted(p.rsplit("/", 1)[-1] for p in report["deleted"]) == [
        ".staging-epoch-3",
        "vacold.hoist",
    ], report
    assert not fs.exists(stage) and not fs.exists(base + ".hoist")
    assert SaltedTable.load(spark, base).df().count() == n


def test_vacuum_refuses_when_base_is_not_loadable(spark, kv, tmp_path):
    """The orphaned-.old state: base gone, the aside copy is the only
    surviving table. vacuum must refuse and delete NOTHING — this is
    exactly the state where 'GC the leftovers' destroys the data."""
    t = SaltedTable.write(
        kv, str(tmp_path / "vacorphan"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    assert fs.rename(base, base + ".old")
    # a stray tmp stage beside it — also must survive the refusal
    fs.mkdirs(base + ".compact_tmp")

    report = vacuum(t)
    assert report["deleted"] == []
    assert all("only surviving copy" in k["reason"] for k in report["kept"])
    assert fs.exists(base + ".old/" + META_FILE)
    assert fs.exists(base + ".compact_tmp")
    # the aside copy is intact and restorable
    assert fs.rename(base + ".old", base)
    assert SaltedTable.load(spark, base).df().count() == n


def test_vacuum_respects_the_lifecycle_lock(spark, kv, tmp_path):
    t = SaltedTable.write(
        kv, str(tmp_path / "vaclock"), HashDistributor(4), "key_long"
    )
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    lock = SaltedTable.lock_path(base)
    # an ALIVE holder (this pid) — takeover must not fire
    import os, socket

    fs.write_text(
        lock,
        json.dumps(
            {"verb": "compact", "pid": os.getpid(), "host": socket.gethostname()}
        ),
    )
    fs.copy(base, base + ".old")
    with pytest.raises(RuntimeError, match=r"vacuum\(\): another lifecycle"):
        vacuum(t)
    assert fs.exists(base + ".old"), "refused vacuum must not delete"
    fs.delete(lock)
    fs.delete(base + ".old", recursive=True)


def test_concurrent_vacuums_serialize_on_the_lock(spark, kv, tmp_path):
    """Race leg of the gauntlet: N threads race vacuum() on the same
    table. The lifecycle lock admits them one at a time — losers get
    the documented 'another lifecycle operation holds' error, nothing
    double-deletes (Hadoop delete of a gone path is a no-op but a
    concurrent classify-then-delete could report the same artifact
    twice), and the table is intact afterwards."""
    import threading

    t = SaltedTable.write(
        kv, str(tmp_path / "vacrace"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs, base = _plant_artifacts(spark, t)
    N = 4
    barrier = threading.Barrier(N)
    results, errors = [], []
    lk = threading.Lock()

    def contend():
        barrier.wait()
        try:
            # per-thread py4j connections make these truly concurrent
            r = vacuum(t, staging_older_than_s=0)
            with lk:
                results.append(r)
        except RuntimeError as e:
            assert "another lifecycle operation holds" in str(e)
            with lk:
                errors.append(e)

    threads = [threading.Thread(target=contend) for _ in range(N)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(results) + len(errors) == N
    assert len(results) >= 1, "every contender lost — lock never released?"
    # across ALL successful runs, each artifact was deleted exactly once
    all_deleted = [p for r in results for p in r["deleted"]]
    assert len(all_deleted) == len(set(all_deleted)), all_deleted
    assert sorted(p.rsplit("/", 1)[-1] for p in all_deleted) == sorted(
        [
            "vacrace.old",
            "vacrace.hoist",
            "vacrace.compact_tmp",
            "vacrace.rebucket_tmp",
            "vacrace.staging-epoch-42",
        ]
    ), all_deleted
    assert SaltedTable.load(spark, base).df().count() == n
    assert not fs.exists(SaltedTable.lock_path(base))


def test_vacuum_completes_a_crashed_expire_first(spark, kv, tmp_path):
    """Lock acquisition recovers a crashed expire stage before vacuum
    classifies anything — the staged survivors merge back into the
    table rather than reading as garbage."""
    t = SaltedTable.write(
        kv, str(tmp_path / "vacstage"), HashDistributor(4), "key_long"
    )
    n = t.df().count()
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    stage = base + "/" + SaltedTable.EXPIRE_STAGE_DIR
    # a manifest-less stage: recovery discards it as pre-manifest junk
    fs.mkdirs(stage + "/salt=0")
    report = vacuum(t)
    assert not fs.exists(stage)
    assert report["deleted"] == [] and report["kept"] == []
    assert SaltedTable.load(spark, base).df().count() == n
