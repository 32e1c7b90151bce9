"""Round-10 regression locks for the ADVICE.md r9 findings.

1. ``_swap_table_dirs`` TOCTOU: a racing epoch stage write (which runs
   outside the lifecycle lock by design) can recreate ``base`` between
   the swap's resurrected-base delete and ``rename(tmp, base)``.
   Hadoop's rename onto an existing dir NESTS tmp inside base and
   returns True (empirically confirmed on the local FS), after which
   the old protocol deleted the aside copy and stranded the table one
   level deep with no error. The swap must now verify the table
   metadata file landed at the top level, un-nest if it did not, and
   never delete the aside copy until a flat loadable table exists at
   ``base``.
2. ``_footer_stats_local`` single pass: the bad-stats fallback used
   to re-read every parquet footer three times (build → source probe
   → footer relation) before reaching the column scan. The reader now
   returns a table or ``None``, and ``None`` goes straight to the scan.
3. ``create_atomic`` classifies lost-the-race by Java exception CLASS;
   a non-race failure whose message merely contains "already exists"
   must propagate, not map to "lock held".
"""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.fsutil import Fs
from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.salted_table import SaltedTable, compact, rebucket


def _race_stage_recreation(monkeypatch, tmp_suffix, base):
    """Patch Fs.rename so the tmp->base swap rename finds base
    resurrected by a concurrent stage write (a lone .staging-* dir),
    reproducing the nest-and-return-True TOCTOU."""
    real = Fs.rename
    fired = {"n": 0}

    def racing(self, src, dst):
        if src.rstrip("/").endswith(tmp_suffix) and dst.rstrip("/") == base:
            if fired["n"] == 0:  # race once; repair renames run clean
                fired["n"] += 1
                self.mkdirs(dst + "/.staging-racer")
        return real(self, src, dst)

    monkeypatch.setattr(Fs, "rename", racing)
    return fired


def test_compact_swap_survives_stage_resurrection_race(
    spark, kv, tmp_path, monkeypatch
):
    path = str(tmp_path / "swapnest")
    t = SaltedTable.write(kv, path, HashDistributor(4), "key_long")
    n = t.df().count()
    fired = _race_stage_recreation(monkeypatch, ".compact_tmp", path)
    compact(t)
    assert fired["n"] == 1  # the race actually happened
    fs = Fs(spark, path)
    # flat, loadable, complete — and no stranded copies anywhere
    reloaded = SaltedTable.load(spark, path)
    assert reloaded.df().count() == n
    assert not fs.exists(path + ".old")
    assert not fs.exists(path + ".hoist")
    assert not fs.exists(path + "/swapnest.compact_tmp")


def test_rebucket_swap_survives_stage_resurrection_race(
    spark, kv, tmp_path, monkeypatch
):
    path = str(tmp_path / "rbnest")
    t = SaltedTable.write(kv, path, HashDistributor(4), "key_long")
    n = t.df().count()
    fired = _race_stage_recreation(monkeypatch, ".rebucket_tmp", path)
    rebucket(t, HashDistributor(8))
    assert fired["n"] == 1
    reloaded = SaltedTable.load(spark, path)
    assert reloaded.df().count() == n
    assert reloaded.distributor.buckets == 8


def test_nested_swap_with_failed_hoist_restores_original(
    spark, kv, tmp_path, monkeypatch
):
    """If the un-nest itself cannot land (hoist rename fails), the
    aside copy must be RESTORED to base — never deleted — and the
    failure must raise instead of silently stranding the rewrite.
    r10 review refinement: the rewrite must ALSO survive (moved back
    to the freed tmp slot), not be deleted with the shell — at scale
    it is hours of work."""
    path = str(tmp_path / "hoistfail")
    t = SaltedTable.write(kv, path, HashDistributor(4), "key_long")
    n = t.df().count()
    real = Fs.rename

    def racing(self, src, dst):
        if src.rstrip("/").endswith(".compact_tmp") and dst.rstrip("/") == path:
            self.mkdirs(dst + "/.staging-racer")
        if dst.rstrip("/").endswith(".hoist"):
            return False  # the repair's first rename fails
        return real(self, src, dst)

    monkeypatch.setattr(Fs, "rename", racing)
    with pytest.raises(IOError, match="nested"):
        compact(t)
    reloaded = SaltedTable.load(spark, path)
    assert reloaded.df().count() == n
    # the rewrite survived in the tmp sibling for a cheap retry
    fs = Fs(spark, path)
    tmp = path.rstrip("/") + ".compact_tmp"
    assert fs.exists(tmp.rstrip("/") + "/_wd_distributor.json")
    assert SaltedTable.load(spark, tmp).df().count() == n


def test_nested_swap_with_all_repair_renames_failing_preserves_both(
    spark, kv, tmp_path, monkeypatch
):
    """Worst repair case: the rewrite can be moved NEITHER to the
    hoist sibling NOR back to the tmp slot. The old code deleted base
    recursively — erasing the only copy of the rewrite nested inside
    it (r10 review). Now: nothing is deleted; the nested rewrite and
    the aside original both survive, and the error says where."""
    path = str(tmp_path / "norepair")
    t = SaltedTable.write(kv, path, HashDistributor(4), "key_long")
    n = t.df().count()
    real = Fs.rename

    def racing(self, src, dst):
        if src.rstrip("/").endswith(".compact_tmp") and dst.rstrip("/") == path:
            self.mkdirs(dst + "/.staging-racer")
        if src.rstrip("/").endswith("/norepair/norepair.compact_tmp"):
            return False  # every attempt to move the NESTED rewrite fails
        return real(self, src, dst)

    monkeypatch.setattr(Fs, "rename", racing)
    with pytest.raises(IOError, match="NOTHING was deleted"):
        compact(t)
    fs = Fs(spark, path)
    nested = path.rstrip("/") + "/norepair.compact_tmp"
    assert fs.exists(nested + "/_wd_distributor.json"), "rewrite destroyed"
    assert SaltedTable.load(spark, nested).df().count() == n
    old = path.rstrip("/") + ".old"
    assert fs.exists(old + "/_wd_distributor.json"), "original destroyed"
    assert SaltedTable.load(spark, old).df().count() == n


def test_restore_aside_verifies_and_unnests(spark, kv, tmp_path, monkeypatch):
    """_restore_aside contract (r10 follow-up review): the restore
    rename is itself TOCTOU-prone — a racing stage writer can recreate
    base between the helper's guard and the rename, nesting the only
    original copy while rename returns True. The helper must detect
    the nesting via the META check, un-nest back to the aside path,
    and never report 'restored' unverified."""
    from hbasewd_spark.sources.salted_table import _restore_aside

    base = str(tmp_path / "ra")
    t = SaltedTable.write(kv, base, HashDistributor(4), "key_long")
    n = t.df().count()
    fs = Fs(spark, base)
    old = base + ".old"
    meta = "/_wd_distributor.json"

    # clean case: verified restore
    assert fs.rename(base, old)
    assert _restore_aside(fs, old, base) == f"restored at {base}"
    assert SaltedTable.load(spark, base).df().count() == n

    # occupied case: refuse rather than nest
    assert fs.rename(base, old)
    fs.mkdirs(base + "/.staging-racer")
    msg = _restore_aside(fs, old, base)
    assert msg.startswith(f"preserved at {old}") and "occupied" in msg
    assert fs.exists(old + meta), "original must be untouched on refusal"
    fs.delete(base, recursive=True)

    # nested case: the guard misses a shell recreated mid-restore
    # (simulated by blinding ONE exists(base) probe); local-FS rename
    # into the existing dir then really nests — the helper must detect
    # it and un-nest back to old
    real_exists = Fs.exists
    blinded = []

    def racing_exists(self, p, _real=real_exists):
        if p == base and not blinded:
            blinded.append(1)
            self.mkdirs(base + "/.staging-racer2")  # the racing shell
            return False
        return _real(self, p)

    monkeypatch.setattr(Fs, "exists", racing_exists)
    msg = _restore_aside(fs, old, base)
    monkeypatch.undo()
    assert "mid-restore" in msg, f"nesting not detected: {msg}"
    assert fs.exists(old + meta), "original must be back at the aside path"
    assert SaltedTable.load(spark, old).df().count() == n
    assert not fs.exists(base + "/ra.old"), "nested copy must be moved out"


def test_footer_stats_local_status_tuple(spark, tmp_path):
    """Return contract: a table when every file's footer stats are
    usable; ``None`` for a decimal column whose footer stats pyarrow
    cannot decode (the caller then takes the column scan)."""
    df = spark.range(100).select(
        F.col("id").alias("k"),
        # decimal(18,4): parquet FLBA-backed, stats undecodable by
        # pyarrow (precision 38 lands as ok — it decodes fine)
        F.col("id").cast("decimal(18,4)").alias("dec"),
    )
    t = SaltedTable.write(
        df, str(tmp_path / "st"), HashDistributor(4), "k"
    )
    tbl = t._footer_stats_local("k")
    assert tbl is not None and tbl.num_rows == 4
    with pytest.warns(UserWarning, match="no usable 'dec' stats"):
        assert t._footer_stats_local("dec") is None


def test_bad_stats_fallback_reads_footers_once(spark, tmp_path, monkeypatch):
    """ADVICE r9: build_zone_map on a bad-stats column must run the
    driver footer pass exactly ONCE before falling back to the scan —
    not three times."""
    import hbasewd_spark.sources.salted_table as st

    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.col("id").cast("decimal(18,4)").alias("dec"),
    )
    t = SaltedTable.write(df, str(tmp_path / "once"), HashDistributor(4), "k")
    calls = {"n": 0}
    real = st._footer_stats_batch

    def counting(paths, col, target):
        calls["n"] += 1
        return real(paths, col, target)

    monkeypatch.setattr(st, "_footer_stats_batch", counting)
    t.build_zone_map("dec")  # bad-stats column -> scan fallback
    assert calls["n"] == 1, f"footer pass ran {calls['n']}x, want 1"
    # and the sidecar it wrote via the scan is exact
    rows = {r["file"]: r for r in t._zone_table("dec").to_pylist()}
    assert rows and all(r["lo"] is not None for r in rows.values())


def test_create_atomic_propagates_nonrace_already_exists_message(
    spark, tmp_path, monkeypatch
):
    """A failure whose MESSAGE contains 'already exists' but whose
    class is not an AlreadyExists/PathExists exception (and not
    Hadoop's anchored local-FS IOException phrasing) must raise, not
    report 'lock held'."""
    fs = Fs(spark, str(tmp_path))
    target = str(tmp_path / "lockdir" / "sentinel")

    class FakeJExc:
        class _Cls:
            def getName(self):
                return "org.apache.hadoop.ipc.RemoteException"

        def getClass(self):
            return self._Cls()

        def getMessage(self):
            return "server error: snapshot already exists on namenode"

    class FakeErr(Exception):
        java_exception = FakeJExc()

    def boom(*a, **k):
        raise FakeErr("wrapped")

    monkeypatch.setattr(type(fs.fs), "create", boom, raising=False)
    with pytest.raises(FakeErr):
        fs.create_atomic(target, "x")


def test_create_atomic_still_detects_real_race(spark, tmp_path):
    """The genuine lost-the-race outcome still maps to False."""
    fs = Fs(spark, str(tmp_path))
    target = str(tmp_path / "sentinel.lock")
    assert fs.create_atomic(target, "a") is True
    assert fs.create_atomic(target, "b") is False


def test_point_get_with_narrow_python_int_literal(spark, tmp_path):
    """Spark's hash functions are type-sensitive: hash(0::int) !=
    hash(0::bigint), so a point get whose Python literal inferred a
    narrower type than the key column used to salt to the WRONG bucket
    and silently return empty. (The kv fixture's keys exceed int32
    range, so its literals inferred long and never tripped this.)
    The key literal must be cast to the key column's type before
    hashing — equality itself was always safe via Catalyst coercion."""
    df = spark.range(500).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )
    t = SaltedTable.write(
        df, str(tmp_path / "smallkeys"), HashDistributor(4), "key_long"
    )
    for key in (0, 1, 123, 499):  # all within int32: F.lit infers int
        got = t.point_get(key).collect()
        assert len(got) == 1 and got[0].v == key * 3, f"key {key}"
    rows = t.multi_get([0, 7, 250]).collect()
    assert sorted(r.key_long for r in rows) == [0, 7, 250]
    # absent key still empty, not a false positive
    assert t.point_get(10_000).count() == 0


def test_point_get_string_key_literal(spark, tmp_path):
    """Same contract for a string-typed key (no numeric width to get
    wrong, but the cast path must not break exactness)."""
    df = spark.range(100).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("ks"),
        F.col("id").alias("v"),
    )
    t = SaltedTable.write(df, str(tmp_path / "strkeys"), HashDistributor(4), "ks")
    got = t.point_get("k0042").collect()
    assert len(got) == 1 and got[0].v == 42
