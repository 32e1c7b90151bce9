"""Lifecycle concurrency (VERDICT r5 next-round #7).

Two pins:
1. the lock sentinel — since ADVICE r8 a SIBLING ``<base>.wd_lock``
   file, never inside the swapped dir: two lifecycle verbs (expire /
   compact / rebucket / upsert_rows) cannot interleave silently — the
   second acquirer fails loudly, and the lock is released on both
   success and in-verb failure;
2. the documented reader anomaly: a reader whose file listing predates
   an ``expire()`` stage-swap MISSES surviving rows — the "run in the
   ingest-quiescent window" contract was prose-only; this makes it a
   failing-if-fixed observation so the docs can never silently drift
   from behavior.
"""

import threading

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor, RoundRobinDistributor
from hbasewd_spark.sources.salted_table import SaltedTable, compact


def _table(spark, path, n=400, buckets=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    return SaltedTable.write(df, path, HashDistributor(buckets), "k")


def _lock_path(t):
    return SaltedTable.lock_path(t.path)


def test_second_lifecycle_verb_fails_loudly_while_locked(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t1"))
    fs = Fs(spark, t.path)
    assert fs.create_atomic(_lock_path(t), '{"verb": "expire", "pid": 1}')
    with pytest.raises(RuntimeError, match="another lifecycle operation"):
        t.expire(before=100)
    with pytest.raises(RuntimeError, match="another lifecycle operation"):
        compact(t)
    with pytest.raises(RuntimeError, match="another lifecycle operation"):
        t.upsert_rows(
            spark.createDataFrame([(1, "x")], "k long, v string")
        )
    # table data was never touched while refused
    assert t.scan().count() == 400
    fs.delete(_lock_path(t))
    stats = t.expire(before=100)  # released lock -> verb proceeds
    assert stats["rows_dropped"] == 100
    assert not fs.exists(_lock_path(t))  # released after success


def test_lock_released_after_in_verb_failure(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t2"))
    fs = Fs(spark, t.path)
    # schema-mismatched changes blow up INSIDE the locked upsert body
    with pytest.raises(Exception, match="wrong_col|UNRESOLVED|cannot resolve"):
        t.upsert_rows(
            spark.createDataFrame([(1, "x")], "k long, wrong_col string")
        )
    assert not fs.exists(_lock_path(t))  # finally released it
    compact(t)  # and the next verb acquires cleanly
    assert t.scan().count() == 400


@pytest.mark.parametrize("writer", ["build_key_index", "build_zone_map"])
def test_index_writers_race_compact_under_the_lock(spark, tmp_path, writer):
    """The writers under ``<base>/`` outside the verbs take the
    lifecycle lock too: raced against compact(), both succeed or one is
    refused with the holder named, and the table and whatever the
    writer built stay consistent with the data files."""
    df = spark.range(400).select(F.col("id").alias("k"), F.col("id").cast("int").alias("v"))
    t = SaltedTable.write(df, str(tmp_path / "race"), RoundRobinDistributor(4), "k", fmt="orc")
    fs = Fs(spark, t.path)
    go, errors = threading.Barrier(2), []

    def run(fn):
        go.wait()
        try:
            fn()
        except RuntimeError as e:
            errors.append(str(e))

    write = (lambda: t.build_key_index(4)) if writer == "build_key_index" else (
        lambda: t.build_zone_map("v"))
    threads = [threading.Thread(target=run, args=(fn,)) for fn in (write, lambda: compact(t))]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(errors) <= 1 and all("another lifecycle operation holds" in e for e in errors), errors
    assert not fs.exists(_lock_path(t))
    t.refresh()
    assert t.scan().count() == 400
    if writer == "build_key_index":
        assert t.point_get_indexed(7).count() == 1
    elif fs.is_dir(f"{t.path}/_zone_maps/v"):
        assert t._zone_sidecar_df("v") is not None  # watermark-fresh
        assert t.pruned_scan("v", 10, 19).count() == 9  # v in [10, 19)


def test_create_atomic_is_create_if_absent(spark, tmp_path):
    fs = Fs(spark, str(tmp_path))
    p = str(tmp_path / "sentinel")
    assert fs.create_atomic(p, "a") is True
    assert fs.create_atomic(p, "b") is False
    assert fs.read_text(p) == "a"  # loser never overwrites


def test_create_atomic_has_one_winner_under_contention(spark, tmp_path):
    """The lifecycle lock is mutual exclusion only if create_atomic is:
    6 threads race to create one fresh path per round, and each round
    must have exactly one winner. Hadoop's local create(overwrite=False)
    checks exists and then opens, which let several threads win the
    same round on a 4-core host (more threads than cores). py4j serves
    each Python thread over its own connection, so the calls overlap
    for real."""
    import sys
    import threading

    N, ROUNDS = 6, 60
    barrier = threading.Barrier(N, timeout=60)
    wins = [[] for _ in range(ROUNDS)]
    lk = threading.Lock()

    def contend(i):
        fs = Fs(spark, str(tmp_path))
        for rnd in range(ROUNDS):
            barrier.wait()
            if fs.create_atomic(str(tmp_path / f"round-{rnd}"), str(i)):
                with lk:
                    wins[rnd].append(i)

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(N)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    multi = {rnd: w for rnd, w in enumerate(wins) if len(w) != 1}
    assert not multi, f"rounds without exactly one winner: {multi}"
    fs = Fs(spark, str(tmp_path))
    for rnd, w in enumerate(wins):
        assert fs.read_text(str(tmp_path / f"round-{rnd}")) == str(w[0])


def test_create_atomic_propagates_non_exists_failures(spark, tmp_path):
    """ADVICE r6: only the lost-the-race outcome maps to False. A
    create that fails for any other reason (here: the parent path is a
    FILE, so no child can be created) must raise, not masquerade as
    'another lifecycle operation holds the lock'."""
    fs = Fs(spark, str(tmp_path))
    blocker = str(tmp_path / "blocker")
    fs.write_text(blocker, "i am a file")
    with pytest.raises(Exception):
        fs.create_atomic(blocker + "/child", "x")


def test_lock_survives_staged_rewrite_swap(spark, tmp_path):
    """ADVICE r6/r8: the lock must remain HELD across compact()'s
    aside-rename swap (the in-dir sentinel used to ride away with
    base.old, releasing it mid-verb; the sibling sentinel is untouched
    by the swap's renames). Pin: at rebuild_zone_maps time
    (post-swap), the lock sentinel must still exist and a second verb
    must still refuse; after the verb returns the lock is gone."""
    t = _table(spark, str(tmp_path / "t_swap"))
    t.rebuild_zone_maps()
    fs = Fs(spark, t.path)
    observed = {}
    real_rebuild = SaltedTable.rebuild_zone_maps

    def spy(self):
        observed["lock_exists_at_rebuild"] = fs.exists(_lock_path(self))
        try:
            self.expire(before=1)
            observed["second_verb_refused"] = False
        except RuntimeError as e:
            observed["second_verb_refused"] = "another lifecycle" in str(e)
        return real_rebuild(self)

    import unittest.mock as mock

    with mock.patch.object(SaltedTable, "rebuild_zone_maps", spy):
        compact(t)
    assert observed["lock_exists_at_rebuild"] is True
    assert observed["second_verb_refused"] is True
    assert not fs.exists(_lock_path(t))  # released at true verb end
    assert t.scan().count() == 400


def test_lock_survives_rebucket_swap(spark, tmp_path):
    """Same pin for rebucket(): the carried sentinel rides the swap
    and is released only when the verb returns."""
    from hbasewd_spark.sources.salted_table import rebucket

    t = _table(spark, str(tmp_path / "t_rb"))
    fs = Fs(spark, t.path)
    t2 = rebucket(t, HashDistributor(8))
    assert not fs.exists(_lock_path(t2))
    assert t2.scan().count() == 400
    assert t2.distributor.buckets == 8


def test_reader_interleaved_with_expire_misses_surviving_rows(spark, tmp_path):
    """The documented expire() anomaly, pinned: a reader whose file
    listing predates the stage-swap silently misses surviving rows
    (with ignoreMissingFiles=true; with the default false it crashes
    on the deleted originals instead). If a future snapshot mechanism
    fixes this, this test SHOULD fail and the docs change with it."""
    t = _table(spark, str(tmp_path / "t3"))
    stale_reader = t.scan()  # file listing captured at plan time
    prev = spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        stats = t.expire(before=200)
        assert stats["rows_dropped"] == 200
        post = t.scan().count()
        assert post == 200  # fresh reader sees exactly the survivors
        stale = stale_reader.count()
        # every boundary file was rewritten under a NEW name, so the
        # stale listing finds only wholly-kept files: survivors from
        # rewritten files are MISSING from the stale read
        assert stale < post, (
            "stale reader saw all survivors — expire() became "
            "reader-atomic; update the documented contract"
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", prev)


def test_epoch_commit_respects_and_holds_the_lifecycle_lock(spark, tmp_path):
    """VERDICT r6 #7: the streaming sink's epoch COMMIT phase now
    rides the same _wd_lock as the lifecycle verbs. Pin the contract
    three ways: (1) a held lock makes the epoch commit wait and then
    raise past its timeout, with the staging dir preserved for the
    replay; (2) after release the replay of the SAME epoch succeeds
    exactly-once; (3) during the commit's rename phase the lock
    exists on the table, so a concurrent verb would refuse."""
    import unittest.mock as mock

    from hbasewd_spark.fsutil import Fs as RealFs
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = _table(spark, str(tmp_path / "t_stream"), n=100)
    fs = Fs(spark, t.path)
    batch = spark.createDataFrame(
        [(1000 + i, f"s{i}") for i in range(20)], "k long, v string"
    )

    # (1) held lock -> bounded wait -> loud raise, stage preserved
    assert fs.create_atomic(_lock_path(t), '{"verb": "compact", "pid": 1}')
    with pytest.raises(RuntimeError, match="lifecycle lock still held"):
        idempotent_salted_batch_write(
            batch, 7, t.path, t.distributor, "k", lock_timeout_s=0.6
        )
    stage = t.path.rstrip("/") + ".staging-epoch-7"
    assert fs.is_dir(stage)  # this epoch's data survives for the replay
    assert t.scan().count() == 100  # nothing committed under the race

    # (2) release -> replay of the same epoch commits exactly-once
    fs.delete(_lock_path(t))
    idempotent_salted_batch_write(
        batch, 7, t.path, t.distributor, "k", lock_timeout_s=5
    )
    t.refresh()
    assert t.scan().count() == 120
    assert not fs.exists(_lock_path(t))  # released after the commit

    # (3) the rename phase holds the lock (a racing verb would refuse)
    seen = {}
    real_rename = RealFs.rename

    def spy(self, src, dst):
        if "epoch-" in dst and "lock_during_rename" not in seen:
            seen["lock_during_rename"] = fs.exists(_lock_path(t))
        return real_rename(self, src, dst)

    with mock.patch.object(RealFs, "rename", spy):
        idempotent_salted_batch_write(
            batch, 8, t.path, t.distributor, "k", lock_timeout_s=5
        )
    assert seen["lock_during_rename"] is True
    t.refresh()
    assert t.scan().count() == 140


def test_epoch_commit_unlocked_on_bare_sink_dir(spark, tmp_path):
    """A dest without table metadata (bare salt-dir sink) has nothing
    a lifecycle verb could target: the epoch write runs unlocked and
    leaves no sentinel behind."""
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    dest = str(tmp_path / "bare_sink")
    batch = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10)], "k long, v string"
    )
    idempotent_salted_batch_write(batch, 1, dest, HashDistributor(4), "k")
    fs = Fs(spark, dest)
    assert not fs.exists(SaltedTable.lock_path(dest))
    assert spark.read.parquet(dest).count() == 10


def test_epoch_commit_refuses_a_table_left_aside(spark, tmp_path):
    """A swap that failed mid-flight leaves the table only at
    ``base.old``. An epoch commit then raises and keeps its stage
    instead of creating a table-less ``base`` from its own files (a
    later verb's swap would delete ``base.old``, the only copy)."""
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = _table(spark, str(tmp_path / "t_aside"), n=100)
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    assert fs.rename(base, base + ".old")
    batch = spark.createDataFrame([(900, "a")], "k long, v string")
    with pytest.raises(RuntimeError, match="swap failed mid-flight"):
        idempotent_salted_batch_write(batch, 2, t.path, t.distributor, "k")
    assert not fs.exists(base)
    assert fs.is_dir(base + ".staging-epoch-2")
    assert not fs.exists(_lock_path(t))
    assert fs.rename(base + ".old", base)
    idempotent_salted_batch_write(batch, 2, t.path, t.distributor, "k")
    t.refresh()
    assert t.scan().count() == 101


def test_lock_acquisition_cannot_resurrect_mid_swap_base(spark, tmp_path):
    """ADVICE r8 (the race this round's redesign closes): with the
    table MID-SWAP (base renamed aside, staged replacement not yet in
    place), acquiring/polling the commit lock must not recreate
    ``base`` — the in-dir sentinel's create could do exactly that,
    making the verb's rename land the staged table INSIDE the
    resurrected dir. With the sibling sentinel, an epoch commit
    arriving mid-swap just waits; once the verb completes and
    releases, the waiting commit acquires cleanly."""
    import threading
    import time

    from hbasewd_spark.streaming.ingest import _epoch_commit_lock

    t = _table(spark, str(tmp_path / "t_midswap"), n=100)
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    # simulate a verb mid-swap HOLDING the sibling lock: base is aside,
    # replacement not yet renamed in
    assert fs.create_atomic(_lock_path(t), '{"verb": "compact", "pid": 1}')
    assert fs.rename(base, base + ".old")
    assert not fs.exists(base)

    state = {}

    def epoch_commit():
        try:
            with _epoch_commit_lock(fs, t.path, 4, timeout_s=8, poll_s=0.05):
                state["acquired_with_base_present"] = fs.exists(base)
        except Exception as e:  # pragma: no cover - surfaced below
            state["err"] = e

    th = threading.Thread(target=epoch_commit)
    th.start()
    time.sleep(1.0)  # the commit is inside its poll loop now
    # THE pin: polling on the lock never recreated base
    assert not fs.exists(base), "lock acquisition resurrected the base dir"
    # verb completes its swap and releases; the waiting commit acquires
    assert fs.rename(base + ".old", base)
    fs.delete(_lock_path(t))
    th.join(timeout=30)
    assert not th.is_alive() and "err" not in state, state.get("err")
    assert state.get("acquired_with_base_present") is True
    assert not fs.exists(_lock_path(t))  # released on exit
    t.refresh()
    assert t.scan().count() == 100  # table intact at base, not nested


@pytest.mark.parametrize("verb", ["compact", "rebucket"])
def test_epoch_staged_across_a_verb(spark, tmp_path, monkeypatch, verb):
    """A lifecycle verb that wins the lock between an epoch's stage
    write and its commit no longer touches the stage (it sits beside
    the table, not inside it). After a compact the epoch commits into
    the rewritten table exactly once, with no raise and no replay.
    After a rebucket the epoch's files are salted by the old
    distributor: the commit raises, keeps the stage and commits
    nothing; the same epoch committed with the table's distributor is
    then exactly-once."""
    import contextlib

    import hbasewd_spark.streaming.ingest as ing
    from hbasewd_spark.sources.salted_table import rebucket
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = _table(spark, str(tmp_path / "t_race"), n=100)
    fs = Fs(spark, t.path)
    stage = t.path.rstrip("/") + ".staging-epoch-3"
    batch = spark.createDataFrame(
        [(2000 + i, f"r{i}") for i in range(15)], "k long, v string"
    )

    real_lock = ing._epoch_commit_lock

    @contextlib.contextmanager
    def racing_lock(lfs, dest_path, epoch_id, timeout_s, poll_s=0.2):
        # the verb wins the window between stage and commit
        if verb == "compact":
            compact(t)
        else:
            rebucket(t, HashDistributor(8))
        assert fs.exists(stage + "/" + ing.STAGE_MANIFEST)
        with real_lock(lfs, dest_path, epoch_id, timeout_s, poll_s):
            yield

    monkeypatch.setattr(ing, "_epoch_commit_lock", racing_lock)
    if verb == "compact":
        idempotent_salted_batch_write(batch, 3, t.path, t.distributor, "k")
    else:
        with pytest.raises(RuntimeError, match="a rebucket since the stream started"):
            idempotent_salted_batch_write(batch, 3, t.path, t.distributor, "k")
        monkeypatch.setattr(ing, "_epoch_commit_lock", real_lock)
        assert fs.exists(stage + "/" + ing.STAGE_MANIFEST)  # stage kept
        t = SaltedTable.load(spark, t.path)
        assert t.distributor.buckets == 8
        assert t.scan().count() == 100  # 0 rows committed
        assert not fs.glob(t.path.rstrip("/") + "/salt=*/epoch-*.parquet")
        assert not fs.exists(_lock_path(t))
        idempotent_salted_batch_write(batch, 3, t.path, t.distributor, "k")
    t.refresh()
    assert t.scan().count() == 115
    assert t.scan().where("k >= 2000").count() == 15
    assert t.validate().count() == 0  # every row in its key's bucket
    for k in (2000, 2007, 2014):
        assert t.point_get(k).count() == 1
    assert not fs.exists(stage)
    assert not fs.exists(_lock_path(t))


def test_epoch_stage_is_never_under_the_table_dir(spark, tmp_path, monkeypatch):
    """While an epoch sits between its stage write and its commit, the
    table dir holds no ``.staging-*`` entry: the stage is the sibling
    ``<base>.staging-epoch-<id>``, so only code holding the lifecycle
    lock writes under ``base``."""
    import contextlib

    import hbasewd_spark.streaming.ingest as ing

    t = _table(spark, str(tmp_path / "t_sib"), n=100)
    fs = Fs(spark, t.path)
    base = t.path.rstrip("/")
    batch = spark.createDataFrame(
        [(5000 + i, f"s{i}") for i in range(10)], "k long, v string"
    )
    real_lock = ing._epoch_commit_lock
    seen = {}

    @contextlib.contextmanager
    def peeking_lock(lfs, dest_path, epoch_id, timeout_s, poll_s=0.2):
        seen["in_base"] = fs.glob(base + "/.staging-*") + fs.glob(base + "/*/.staging-*")
        seen["beside"] = fs.glob(base + ".staging-epoch-*")
        with real_lock(lfs, dest_path, epoch_id, timeout_s, poll_s):
            yield

    monkeypatch.setattr(ing, "_epoch_commit_lock", peeking_lock)
    ing.idempotent_salted_batch_write(batch, 4, t.path, t.distributor, "k")
    assert seen["in_base"] == []
    assert [p.rsplit("/", 1)[-1] for p in seen["beside"]] == ["t_sib.staging-epoch-4"]
    t.refresh()
    assert t.scan().count() == 110
    assert not fs.glob(base + ".staging-epoch-*")


def test_epoch_commit_crash_mid_rename_replays_exactly_once(spark, tmp_path):
    """VERDICT r7 #7: fault-inject Fs.rename to die AFTER the stale
    purge and the first epoch-file rename — the mid-commit crash leg.
    The failed commit must leave the stage intact and the lock
    released; the epoch replay (foreachBatch redelivery) must converge
    to exactly-once: the partial renames of the crashed attempt are
    purged by the replay's own stale-purge, and no .staging dir leaks."""
    import unittest.mock as mock

    from hbasewd_spark.fsutil import Fs as RealFs
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    t = _table(spark, str(tmp_path / "t_crash"), n=100)
    fs = Fs(spark, t.path)
    batch = spark.createDataFrame(
        [(3000 + i, f"c{i}") for i in range(40)], "k long, v string"
    )

    real_rename = RealFs.rename
    state = {"epoch_renames": 0}

    def crashing(self, src, dst):
        if "epoch-" in dst:
            state["epoch_renames"] += 1
            if state["epoch_renames"] == 2:
                raise IOError("injected crash mid-commit")
        return real_rename(self, src, dst)

    with mock.patch.object(RealFs, "rename", crashing):
        with pytest.raises(IOError, match="injected crash"):
            idempotent_salted_batch_write(
                batch, 9, t.path, t.distributor, "k"
            )
    assert state["epoch_renames"] == 2  # crashed exactly where injected
    stage = t.path.rstrip("/") + ".staging-epoch-9"
    assert fs.is_dir(stage)  # preserved for the replay
    assert not fs.exists(_lock_path(t))  # lock released on the error path
    # one file DID land before the crash — the replay must purge it
    landed = fs.glob(t.path.rstrip("/") + "/salt=*/epoch-0000000009-*.parquet")
    assert len(landed) == 1

    # replay: same epoch id, no fault
    idempotent_salted_batch_write(batch, 9, t.path, t.distributor, "k")
    t.refresh()
    assert t.scan().count() == 140  # exactly-once: no dupes, no loss
    assert t.scan().where("k >= 3000").count() == 40
    assert not fs.glob(t.path.rstrip("/") + ".staging-epoch-*")
    assert not fs.exists(_lock_path(t))
