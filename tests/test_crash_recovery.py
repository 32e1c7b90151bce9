"""Exhaustive crash-point injection for the lifecycle swap protocol.

The swap's documented invariant (``_swap_table_dirs`` docstring):
EVERY failure mode leaves a complete, loadable copy of the table at a
known path — ``base``, ``base.old``, or the staged ``*_tmp`` sibling.
The other tests check hand-picked failure points (aside-rename fails,
swap-rename fails, base recreated mid-swap); this suite
checks ALL of them mechanically: it crashes the verb at the k-th
MUTATING filesystem operation for every k the verb performs, and after
each crash asserts that some location still holds every row.

This is the difference between "we thought about the failure modes we
thought of" and "the protocol is crash-safe at every step" — on a
real cluster the driver can die at any point between two namenode
RPCs.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor, RoundRobinDistributor
from hbasewd_spark.sources.salted_table import (
    SaltedTable,
    cluster,
    compact,
    rebucket,
)

MUTATORS = ("rename", "delete", "copy", "create_atomic", "write_text", "mkdirs")


class _InjectedCrash(Exception):
    pass


class _CrashAfter:
    """Patch every mutating Fs op to raise on the n-th call."""

    def __init__(self, monkeypatch, crash_at):
        self.count = 0
        self.crash_at = crash_at  # 1-based; 0 disables
        self.ops = []
        for name in MUTATORS:
            real = getattr(Fs, name)

            def wrapper(fs_self, *a, _real=real, _name=name, **kw):
                self.count += 1
                self.ops.append((_name, a[0] if a else None))
                if self.crash_at and self.count == self.crash_at:
                    raise _InjectedCrash(f"crash at op {self.count}: {_name} {a}")
                return _real(fs_self, *a, **kw)

            monkeypatch.setattr(Fs, name, wrapper)


def _rows_at(spark, path):
    """Row count of whatever (possibly meta-less) table dir sits at
    ``path``, by reading the salt partition dirs directly — load()
    needs the metadata file, which some crash points legitimately
    leave only in the other location."""
    fs = Fs(spark, path)
    parts = fs.glob(f"{path.rstrip('/')}/salt=*")
    if not parts:
        return None
    try:
        return (
            spark.read.option("basePath", path).parquet(*parts).count()
        )
    except Exception:
        return None


def _assert_survivable(spark, base, n_expected, crash_op):
    """The invariant: at least one of the candidate locations holds
    every row."""
    candidates = [base, base + ".old", base + ".compact_tmp",
                  base + ".rebucket_tmp", base + ".cluster_tmp"]
    counts = {p: _rows_at(spark, p) for p in candidates}
    survivors = [p for p, n in counts.items() if n == n_expected]
    assert survivors, (
        f"crash at {crash_op}: NO complete copy anywhere — counts {counts}"
    )


def _fresh_table(spark, tmp_path, name):
    df = spark.range(300).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )
    return SaltedTable.write(
        df, str(tmp_path / name), HashDistributor(4), "key_long"
    )


def _run_verb(verb_name, t):
    if verb_name == "compact":
        compact(t)
    elif verb_name == "rebucket":
        rebucket(t, HashDistributor(8))
    else:  # z-order cluster: same aside-rename swap protocol
        cluster(t, "key_long", "v")


@pytest.mark.parametrize("verb_name", ["compact", "rebucket", "cluster"])
def test_every_crash_point_leaves_a_complete_copy(
    spark, tmp_path, monkeypatch, verb_name
):
    # pass 1: count the verb's mutating ops without crashing
    t = _fresh_table(spark, tmp_path, f"{verb_name}_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    _run_verb(verb_name, t)
    total_ops = probe.count
    monkeypatch.undo()
    assert total_ops >= 4, f"expected a multi-step protocol, saw {probe.ops}"

    # pass 2: crash at every op index, verify survivability each time
    for k in range(1, total_ops + 1):
        t = _fresh_table(spark, tmp_path, f"{verb_name}_k{k}")
        base = t.path
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            _run_verb(verb_name, t)
            crashed = False
        except _InjectedCrash:
            crashed = True
        except IOError:
            # the protocol noticed a failed step and reported it —
            # fine, as long as the data survived (checked below)
            crashed = True
        finally:
            monkeypatch.undo()
        op = inj.ops[k - 1] if crashed and len(inj.ops) >= k else ("finished", None)
        _assert_survivable(spark, base, 300, f"{verb_name} op#{k} {op}")


def test_crash_then_recovery_path_is_loadable_or_documented(
    spark, tmp_path, monkeypatch
):
    """After any mid-swap crash, either load(base) works outright, or
    the documented manual recovery (rename base.old -> base) makes it
    work. No crash point may require forensic reconstruction."""
    t = _fresh_table(spark, tmp_path, "recovery_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    compact(t)
    total_ops = probe.count
    monkeypatch.undo()

    for k in range(1, total_ops + 1):
        t = _fresh_table(spark, tmp_path, f"recovery_k{k}")
        base = t.path
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            compact(t)
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        fs = Fs(spark, base)
        loaded = None
        try:
            loaded = SaltedTable.load(spark, base).df().count()
        except Exception:
            pass
        if loaded != 300 and fs.exists(base + ".old"):
            # documented recovery: the aside copy is the table
            if fs.exists(base):
                fs.delete(base, recursive=True)
            assert fs.rename(base + ".old", base)
            loaded = SaltedTable.load(spark, base).df().count()
        assert loaded == 300, f"crash at op#{k}: unrecoverable ({inj.ops[k-1:k]})"


def test_expire_crash_points_never_lose_a_surviving_row(
    spark, tmp_path, monkeypatch
):
    """expire()'s crash contract (docstring at the delete loop): the
    stage dir holds every boundary survivor BEFORE originals go away,
    so at ANY crash point the union of (rows at base with key >=
    cutoff, or null key) and (rows in the stage dir) covers every row
    that must survive. Expired rows may outlive a crash (retention is
    re-runnable); survivors may never die."""
    cutoff = 120
    df = spark.range(300).select(
        F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id")).alias("key_long"),
        (F.col("id") * 3).alias("v"),
    )
    survivors = {
        r.v
        for r in df.where(
            (F.col("key_long") >= cutoff) | F.col("key_long").isNull()
        ).collect()
    }

    def build(name):
        t = SaltedTable.write(
            df, str(tmp_path / name), HashDistributor(4), "key_long"
        )
        t.build_zone_map("key_long")
        return t

    t = build("exp_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    stats = t.expire(cutoff)
    total_ops = probe.count
    monkeypatch.undo()
    assert stats["files_dropped"] + stats["files_rewritten"] > 0
    assert total_ops >= 4

    for k in range(1, total_ops + 1):
        t = build(f"exp_k{k}")
        base, stage = t.path, t.path.rstrip("/") + "/.expire_stage"
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.expire(cutoff)
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        live = set()
        base_rows = _rows_at(spark, base)
        if base_rows is not None:
            live |= {
                r.v
                for r in spark.read.option("basePath", base)
                .parquet(*Fs(spark, base).glob(f"{base}/salt=*"))
                .where((F.col("key_long") >= cutoff) | F.col("key_long").isNull())
                .collect()
            }
        fs = Fs(spark, base)
        if fs.exists(stage):
            try:
                live |= {r.v for r in spark.read.parquet(stage).collect()}
            except Exception:
                pass
        missing = survivors - live
        assert not missing, (
            f"expire crash at op#{k} {inj.ops[k-1:k]}: lost {len(missing)} "
            f"surviving rows"
        )


def test_epoch_commit_crash_then_replay_converges(spark, tmp_path, monkeypatch):
    """The streaming sink's contract: foreachBatch re-delivers an
    epoch after ANY mid-commit crash, and the replay must converge to
    exactly-once. Crash the commit at every mutating fs op, replay
    without injection, and require the final table to hold the batch
    exactly once."""
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    batch = spark.range(100).select(
        F.col("id").alias("key_long"), (F.col("id") * 7).alias("v")
    )
    dist = HashDistributor(4)

    # probe pass on a throwaway table
    probe_path = str(tmp_path / "epoch_probe")
    SaltedTable.write(
        spark.range(0).select(
            F.col("id").alias("key_long"), F.col("id").alias("v")
        ),
        probe_path,
        dist,
        "key_long",
    )
    probe = _CrashAfter(monkeypatch, crash_at=0)
    idempotent_salted_batch_write(batch, 1, probe_path, dist, "key_long")
    total_ops = probe.count
    monkeypatch.undo()
    assert total_ops >= 3

    for k in range(1, total_ops + 1):
        path = str(tmp_path / f"epoch_k{k}")
        SaltedTable.write(
            spark.range(0).select(
                F.col("id").alias("key_long"), F.col("id").alias("v")
            ),
            path,
            dist,
            "key_long",
        )
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            idempotent_salted_batch_write(batch, 1, path, dist, "key_long")
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        # a crash at the lock-release op leaves the sentinel held; in a
        # REAL crash the holder pid is dead, but the in-process
        # injection keeps it alive (it's us) — rewrite it to a
        # provably-dead pid so the replay exercises the dead-holder
        # takeover exactly as a restarted driver would find it
        _make_lock_holder_dead(spark, path)
        # the replay Spark's foreachBatch would perform after the crash
        idempotent_salted_batch_write(
            batch, 1, path, dist, "key_long", lock_timeout_s=10.0
        )
        got = sorted(
            r.key_long for r in SaltedTable.load(spark, path).df().collect()
        )
        assert got == list(range(100)), (
            f"epoch crash at op#{k} {inj.ops[k-1:k]}: replay did not "
            f"converge to exactly-once ({len(got)} rows)"
        )


def _dead_pid():
    """A pid that provably belonged to a process that has exited."""
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _make_lock_holder_dead(spark, base):
    """If the table's lifecycle lock survived a simulated crash,
    rewrite its holder pid to a dead one (the injection crashes
    in-process, so the recorded pid — ours — is still alive, unlike a
    real crash)."""
    import json
    import socket

    fs = Fs(spark, base)
    lock = SaltedTable.lock_path(base.rstrip("/"))
    if not fs.exists(lock):
        return
    try:
        holder = json.loads(fs.read_text(lock))
    except Exception:
        holder = {"verb": "?"}
    holder["pid"] = _dead_pid()
    holder["host"] = socket.gethostname()
    fs.write_text(lock, json.dumps(holder))


def test_dead_holder_lock_is_broken_and_alive_holder_is_not(
    spark, kv, tmp_path
):
    """Direct takeover-rule checks: a same-host dead-pid holder is
    broken automatically by the next verb; an alive holder (or a
    foreign-host one) still raises the documented error."""
    import json
    import socket

    t = SaltedTable.write(kv, str(tmp_path / "lockdead"), HashDistributor(4), "key_long")
    fs = Fs(spark, t.path)
    lock = SaltedTable.lock_path(t.path.rstrip("/"))

    # dead same-host holder: the verb recovers on its own
    fs.write_text(
        lock,
        json.dumps({"verb": "compact", "pid": _dead_pid(), "host": socket.gethostname()}),
    )
    compact(t)  # would raise "another lifecycle operation holds" before
    assert not fs.exists(lock)

    # alive holder: untouched, verb raises
    fs.write_text(
        lock,
        json.dumps({"verb": "compact", "pid": 1, "host": socket.gethostname()}),
    )
    import os as _os

    try:
        _os.kill(1, 0)
        pid1_alive = True
    except ProcessLookupError:
        pid1_alive = False
    except PermissionError:
        pid1_alive = True
    if pid1_alive:
        with pytest.raises(RuntimeError, match="holds"):
            compact(t)
        assert fs.exists(lock)
        fs.delete(lock)

    # foreign-host holder: never broken, even with a dead pid
    fs.write_text(
        lock,
        json.dumps({"verb": "compact", "pid": _dead_pid(), "host": "some-other-box"}),
    )
    with pytest.raises(RuntimeError, match="holds"):
        compact(t)
    assert fs.exists(lock)
    fs.delete(lock)

    # old-format holder (no host): conservative, not broken
    fs.write_text(lock, json.dumps({"verb": "compact", "pid": _dead_pid()}))
    with pytest.raises(RuntimeError, match="holds"):
        compact(t)
    assert fs.exists(lock)
    fs.delete(lock)


def test_break_claim_serializes_takeover(spark, kv, tmp_path):
    """The r10 review race: two same-host processes both prove the
    holder dead; with a plain re-read-then-delete the slower one's
    delete removes the FASTER one's freshly acquired sentinel and two
    mutators hold the exclusive lock at once. The break-claim sentinel
    (``<lock>.break``) closes it: while ANY claim exists,
    try_break_dead_lock must back off (return False, lock and claim
    untouched) — including a DEAD breaker's stale claim, because every
    auto-reclaim protocol re-opens a double-break window one level
    down (the follow-up review found the reclaim-by-rename variant
    let a slow cleaner grab a live breaker's fresh claim); the stale
    case is the documented manual path. A successful break leaves no
    claim debris."""
    import json
    import os
    import socket

    from hbasewd_spark.fsutil import try_break_dead_lock

    t = SaltedTable.write(kv, str(tmp_path / "claims"), HashDistributor(4), "key_long")
    fs = Fs(spark, t.path)
    lock = SaltedTable.lock_path(t.path.rstrip("/"))
    claim = lock + ".break"
    dead = json.dumps(
        {"verb": "compact", "pid": _dead_pid(), "host": socket.gethostname()}
    )

    # live claim holder (our own pid counts as unprovable-dead): back off
    fs.write_text(lock, dead)
    fs.write_text(
        claim, json.dumps({"pid": os.getpid(), "host": socket.gethostname()})
    )
    assert try_break_dead_lock(fs, lock) is False
    assert fs.exists(lock), "backed-off breaker must not touch the lock"
    assert fs.exists(claim), "backed-off breaker must not touch a live claim"
    fs.delete(claim)

    # unreadable claim: conservative back-off too
    fs.write_text(claim, "not json")
    assert try_break_dead_lock(fs, lock) is False
    assert fs.exists(lock)
    fs.delete(claim)

    # stale claim from a crashed breaker: back off and leave BOTH
    # files (the manual path); no auto-reclaim — see docstring
    stale_claim = json.dumps({"pid": _dead_pid(), "host": socket.gethostname()})
    fs.write_text(claim, stale_claim)
    assert try_break_dead_lock(fs, lock) is False
    assert fs.exists(lock), "lock must survive a wedged-claim back-off"
    assert fs.read_text(claim) == stale_claim, "stale claim must be untouched"
    # the lifecycle verb's error names the claim so the operator knows
    # what to delete
    t_locked = SaltedTable.load(spark, t.path)
    with pytest.raises(RuntimeError, match=r"takeover claim"):
        compact(t_locked)
    fs.delete(claim)

    # with the claim cleared, the dead lock breaks normally again and
    # leaves no claim debris
    assert try_break_dead_lock(fs, lock) is True
    assert not fs.exists(lock)
    assert not fs.exists(claim)


def test_concurrent_breakers_yield_exactly_one_lock_holder(spark, kv, tmp_path):
    """Empirical race check of the claim protocol: N threads each
    prove the same dead holder and race break+acquire. EXACTLY one
    may end up holding the lock per round — under the old
    re-read-then-delete takeover, a slow thread's delete could remove
    a fast thread's freshly created sentinel and two 'winners'
    emerged. py4j serves each Python thread over its own connection,
    so these are genuinely concurrent filesystem calls."""
    import json
    import socket
    import threading

    from hbasewd_spark.fsutil import try_break_dead_lock

    t = SaltedTable.write(kv, str(tmp_path / "race"), HashDistributor(4), "key_long")
    lock = SaltedTable.lock_path(t.path.rstrip("/"))
    dead = json.dumps(
        {"verb": "compact", "pid": _dead_pid(), "host": socket.gethostname()}
    )
    N, ROUNDS = 6, 12
    for rnd in range(ROUNDS):
        fs0 = Fs(spark, t.path)
        fs0.write_text(lock, dead)
        barrier = threading.Barrier(N)
        winners = []
        lk = threading.Lock()

        def contend(i):
            # per-thread Fs handle: py4j allocates one gateway
            # connection per Python thread, so calls overlap for real
            fs = Fs(spark, t.path)
            me = json.dumps(
                {"verb": f"racer-{i}", "pid": os.getpid(), "host": socket.gethostname()}
            )
            barrier.wait()
            if fs.create_atomic(lock, me) or (
                try_break_dead_lock(fs, lock) and fs.create_atomic(lock, me)
            ):
                with lk:
                    winners.append(i)

        threads = [threading.Thread(target=contend, args=(i,)) for i in range(N)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert len(winners) == 1, (
            f"round {rnd}: {len(winners)} threads all believe they hold "
            f"the lock ({winners}) — takeover not serialized"
        )
        # the winner's sentinel survived everyone else's takeover logic
        holder = json.loads(fs0.read_text(lock))
        assert holder["verb"] == f"racer-{winners[0]}"
        fs0.delete(lock)
        fs0.delete(lock + ".break")


def test_break_backs_off_when_lock_changes_under_claim(spark, kv, tmp_path):
    """If the dead sentinel is replaced by a NEW holder's sentinel
    between the breaker's death-proof read and its claim acquisition,
    the re-read under the claim must detect the change and leave the
    new holder's lock alone."""
    import json
    import socket

    from hbasewd_spark import fsutil
    from hbasewd_spark.fsutil import try_break_dead_lock

    t = SaltedTable.write(kv, str(tmp_path / "claimrace"), HashDistributor(4), "key_long")
    fs = Fs(spark, t.path)
    lock = SaltedTable.lock_path(t.path.rstrip("/"))
    dead = json.dumps(
        {"verb": "compact", "pid": _dead_pid(), "host": socket.gethostname()}
    )
    new_holder = json.dumps(
        {"verb": "expire", "pid": _dead_pid() + 1, "host": socket.gethostname()}
    )
    fs.write_text(lock, dead)

    real_read = Fs.read_text
    calls = {"n": 0}

    def racing_read(fs_self, p, _real=real_read):
        out = _real(fs_self, p)
        if p == lock:
            calls["n"] += 1
            if calls["n"] == 1:
                # simulate: dead lock broken + re-created by a new
                # holder right after our death-proof read
                fs_self.write_text(lock, new_holder)
        return out

    try:
        Fs.read_text = racing_read
        assert try_break_dead_lock(fs, lock) is False
    finally:
        Fs.read_text = real_read
    assert fs.exists(lock), "new holder's sentinel must survive"
    assert fs.read_text(lock) == new_holder
    assert not fs.exists(lock + ".break"), "claim must be released"
    fs.delete(lock)


def test_upsert_crash_points_leave_old_or_new_content(
    spark, tmp_path, monkeypatch
):
    """upsert_rows commits data through Spark's dynamic partition
    overwrite (its own staging protocol, not Fs ops), so the Fs-level
    crash points here are the lock handling and the zone-sidecar
    rebuild around it. Invariant: at every such point the table holds
    either the pre-upsert or the post-upsert content — never a mix,
    never a loss — and a stale sidecar is bypassed, not believed."""
    df = spark.range(200).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )
    changes = spark.range(50).select(
        F.col("id").alias("key_long"), F.lit(-1).alias("v")
    )
    old_vs = {r.key_long: r.v for r in df.collect()}
    new_vs = {**old_vs, **{i: -1 for i in range(50)}}

    def build(name):
        t = SaltedTable.write(
            df, str(tmp_path / name), HashDistributor(4), "key_long"
        )
        t.build_zone_map("key_long")
        return t

    t = build("ups_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    t.upsert_rows(changes)
    total_ops = probe.count
    monkeypatch.undo()
    assert total_ops >= 2

    for k in range(1, total_ops + 1):
        t = build(f"ups_k{k}")
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.upsert_rows(changes)
        except (_InjectedCrash, IOError, RuntimeError):
            pass
        finally:
            monkeypatch.undo()
        _make_lock_holder_dead(spark, t.path)
        got = {
            r.key_long: r.v
            for r in SaltedTable.load(spark, t.path).df().collect()
        }
        assert got in (old_vs, new_vs), (
            f"upsert crash at op#{k} {inj.ops[k-1:k]}: table is neither "
            f"old nor new content ({len(got)} rows)"
        )
        # and the surviving state still answers range scans correctly
        t2 = SaltedTable.load(spark, t.path)
        n = t2.scan(start=10, stop=60).count()
        assert n == 50


def test_expire_crash_then_retry_converges(spark, tmp_path, monkeypatch):
    """The round-10 write-ahead manifest makes a crashed expire()
    SELF-HEALING: whatever op the crash hit, simply rerunning
    expire(cutoff) must converge the table to exactly the post-expire
    content — survivors once each, expired rows gone, stage cleared.
    (Before the manifest, a crash between the original-file deletes
    and the staged-file renames required a documented manual
    re-merge.)"""
    cutoff = 120
    df = spark.range(300).select(
        F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id")).alias("key_long"),
        (F.col("id") * 3).alias("v"),
    )
    expected = sorted(
        r.v
        for r in df.where(
            (F.col("key_long") >= cutoff) | F.col("key_long").isNull()
        ).collect()
    )

    def build(name):
        t = SaltedTable.write(
            df, str(tmp_path / name), HashDistributor(4), "key_long"
        )
        t.build_zone_map("key_long")
        return t

    t = build("expc_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    t.expire(cutoff)
    total_ops = probe.count
    monkeypatch.undo()

    for k in range(1, total_ops + 1):
        t = build(f"expc_k{k}")
        base = t.path
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.expire(cutoff)
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        _make_lock_holder_dead(spark, base)
        # the retry any retention scheduler would perform
        t2 = SaltedTable.load(spark, base)
        t2.expire(cutoff)
        got = sorted(r.v for r in SaltedTable.load(spark, base).df().collect())
        assert got == expected, (
            f"expire crash at op#{k} {inj.ops[k-1:k]}: retry did not "
            f"converge ({len(got)} vs {len(expected)} rows)"
        )
        assert not Fs(spark, base).exists(base.rstrip("/") + "/.expire_stage")


def test_expire_crash_then_other_verbs_never_lose_survivors(
    spark, tmp_path, monkeypatch
):
    """The r10 review's data-loss scenario: expire() crashes
    POST-MANIFEST (boundary survivors now exist ONLY in the hidden
    ``.expire_stage``), the driver restarts, and the NIGHTLY COMPACT —
    not another expire() — runs first. Before the fix, compact()
    auto-broke the dead holder's lock, rewrote the table from a df()
    that can't see the stage, and its swap deleted the stage with the
    old table dir: boundary survivors silently gone. The recovery now
    runs under _lifecycle_lock for EVERY verb, so compact must land
    with every surviving row present exactly once, whatever op the
    crash hit."""
    cutoff = 120
    df = spark.range(300).select(
        F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id")).alias("key_long"),
        (F.col("id") * 3).alias("v"),
    )
    rows = df.collect()
    survivors = sorted(
        r.v for r in rows if r.key_long is None or r.key_long >= cutoff
    )
    expired = {r.v for r in rows if r.key_long is not None and r.key_long < cutoff}

    def build(name):
        t = SaltedTable.write(
            df, str(tmp_path / name), HashDistributor(4), "key_long"
        )
        t.build_zone_map("key_long")
        return t

    t = build("expv_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    t.expire(cutoff)
    total_ops = probe.count
    monkeypatch.undo()

    for k in range(1, total_ops + 1):
        t = build(f"expv_k{k}")
        base = t.path
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.expire(cutoff)
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        _make_lock_holder_dead(spark, base)
        t2 = compact(SaltedTable.load(spark, base))
        got = [r.v for r in t2.df().collect()]
        got_surv = sorted(v for v in got if v not in expired)
        assert got_surv == survivors, (
            f"expire crash at op#{k} {inj.ops[k-1:k]} then compact(): "
            f"survivor rows lost or duplicated "
            f"({len(got_surv)} vs {len(survivors)})"
        )
        # expired rows may legitimately be in either state mid-crash
        # (some originals deleted, some not) but never duplicated
        got_exp = [v for v in got if v in expired]
        assert len(got_exp) == len(set(got_exp)), (
            f"expire crash at op#{k}: compact duplicated expired rows"
        )
        # the stage was consumed (merged or discarded), never left for
        # a later verb to trip over
        assert not Fs(spark, t2.path).exists(
            t2.path.rstrip("/") + "/" + SaltedTable.EXPIRE_STAGE_DIR
        )


@pytest.mark.parametrize("verb", ["rebucket", "upsert", "cluster"])
def test_post_manifest_expire_crash_recovered_by_every_verb(
    spark, tmp_path, monkeypatch, verb
):
    """The verb-agnostic leg of the recovery-under-lock fix: the
    compact() test sweeps every crash point; here the single most
    dangerous state — survivors live ONLY in the manifest-bearing
    stage — is handed to each OTHER verb's distinct rewrite path
    (rebucket: full re-salt write; upsert_rows: dynamic partition
    overwrite; cluster: z-order rewrite) and every one must surface
    the staged survivors."""
    cutoff = 120
    df = spark.range(300).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )

    t = SaltedTable.write(
        df, str(tmp_path / f"pm_{verb}"), HashDistributor(4), "key_long"
    )
    t.build_zone_map("key_long")
    base = t.path
    fs = Fs(spark, base)
    stage = base.rstrip("/") + "/" + SaltedTable.EXPIRE_STAGE_DIR

    # drive expire into the post-manifest state: crash on the FIRST
    # original-file delete AFTER the manifest write
    class _CrashOnDeleteAfterManifest:
        def __init__(self):
            self.manifest_written = False
            real_wt, real_del = Fs.write_text, Fs.delete

            def wt(fs_self, p, text, _real=real_wt):
                if p.endswith(SaltedTable.EXPIRE_MANIFEST):
                    self.manifest_written = True
                return _real(fs_self, p, text)

            def dl(fs_self, p, recursive=False, _real=real_del):
                if self.manifest_written and not p.endswith(
                    SaltedTable.EXPIRE_MANIFEST
                ):
                    raise _InjectedCrash(f"crash deleting {p}")
                return _real(fs_self, p, recursive)

            monkeypatch.setattr(Fs, "write_text", wt)
            monkeypatch.setattr(Fs, "delete", dl)

    _CrashOnDeleteAfterManifest()
    with pytest.raises(_InjectedCrash):
        t.expire(cutoff)
    monkeypatch.undo()
    assert fs.exists(stage + "/" + SaltedTable.EXPIRE_MANIFEST), (
        "fixture failed to produce the post-manifest crash state"
    )
    _make_lock_holder_dead(spark, base)

    # recovery under the next verb's lock finishes the manifest's
    # deletes and merges the staged survivors, so the verb operates on
    # exactly the post-expire content: keys cutoff..299
    t1 = SaltedTable.load(spark, base)
    if verb == "rebucket":
        t2 = rebucket(t1, HashDistributor(8))
        expected = sorted(k * 3 for k in range(cutoff, 300))
    elif verb == "cluster":
        t2 = cluster(t1, "key_long", "v", files_per_salt=2)
        expected = sorted(k * 3 for k in range(cutoff, 300))
    else:
        t2 = t1.upsert_rows(
            spark.range(5).select(
                (F.col("id") + 200).alias("key_long"), F.lit(-1).alias("v")
            )
        )
        expected = sorted(
            -1 if 200 <= k < 205 else k * 3 for k in range(cutoff, 300)
        )
    got = sorted(r.v for r in t2.df().collect())
    assert got == expected, (
        f"{verb} after post-manifest expire crash lost staged survivors "
        f"({len(got)} vs {len(expected)} rows)"
    )
    assert not Fs(spark, t2.path).exists(
        t2.path.rstrip("/") + "/" + SaltedTable.EXPIRE_STAGE_DIR
        )


def test_zone_sidecar_build_crash_never_corrupts_query_results(
    spark, tmp_path, monkeypatch
):
    """Crash build_zone_map at every mutating op: whatever partial
    sidecar state survives (dir without meta, meta without data, stale
    watermark), subsequent fast_count / pruned_scan / scan answers
    must be EXACT — a partial sidecar may cost the fallback compute,
    never a wrong number. This is the worst failure class: the other
    crash tests protect data files; this one protects answers. ORC:
    a parquet table's footers serve its zones, so it persists none."""
    df = spark.range(1000).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )

    def build(name):
        return SaltedTable.write(
            df, str(tmp_path / name), HashDistributor(4), "key_long", fmt="orc"
        )

    t = build("zm_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    t.build_zone_map("key_long")
    total_ops = probe.count
    monkeypatch.undo()
    assert total_ops >= 2

    for k in range(1, total_ops + 1):
        t = build(f"zm_k{k}")
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.build_zone_map("key_long")
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        # the build holds the lifecycle lock: a crash at its release
        # leaves the sentinel, whose holder a real crash leaves dead
        _make_lock_holder_dead(spark, t.path)
        t2 = SaltedTable.load(spark, t.path)
        assert t2.fast_count(100, 600) == 500, f"crash at op#{k}: wrong fast_count"
        assert t2.pruned_scan("key_long", 100, 600).count() == 500
        assert t2.scan(start=100, stop=600).count() == 500
        # and a clean rebuild on top of the debris works
        t2.build_zone_map("key_long")
        assert t2._zone_sidecar_df("key_long") is not None
        assert t2.fast_count(100, 600) == 500


def test_key_index_build_crash_never_corrupts_point_gets(
    spark, tmp_path, monkeypatch
):
    """Same contract as the zone sidecar, for the key->salt index:
    a crashed build_key_index leaves debris that point_get_indexed
    must never BELIEVE — gets stay exact (falling back to the salt
    fan-out path), and a clean rebuild lands over the debris.

    ROUND-ROBIN distributor, deliberately: point_get_indexed
    short-circuits straight to point_get for deterministic (hash)
    distributors (salted_table.py `point_get_indexed`), so a
    HashDistributor table would never execute the index probe this
    test exists to distrust — every assertion would vacuously pass
    through the fan-out path (r10 review finding)."""
    df = spark.range(500).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )

    def build(name):
        return SaltedTable.write(
            df, str(tmp_path / name), RoundRobinDistributor(4), "key_long"
        )

    t = build("ki_probe")
    probe = _CrashAfter(monkeypatch, crash_at=0)
    t.build_key_index(index_buckets=8)
    total_ops = probe.count
    monkeypatch.undo()
    # the index parquet itself is written by Spark; the Fs-level ops
    # are the lock take/release and the watermark meta write — the op
    # whose absence must make the index debris invisible
    assert total_ops >= 3

    for k in range(1, total_ops + 1):
        t = build(f"ki_k{k}")
        inj = _CrashAfter(monkeypatch, crash_at=k)
        try:
            t.build_key_index(index_buckets=8)
        except (_InjectedCrash, IOError):
            pass
        finally:
            monkeypatch.undo()
        _make_lock_holder_dead(spark, t.path)  # as for the zone sidecar
        t2 = SaltedTable.load(spark, t.path)
        for key in (0, 123, 499):
            got = t2.point_get_indexed(key).collect()
            assert len(got) == 1 and got[0].v == key * 3, (
                f"crash at op#{k}: indexed get wrong for key {key}"
            )
        t2.build_key_index(index_buckets=8)
        got = t2.point_get_indexed(250).collect()
        assert len(got) == 1 and got[0].v == 750
