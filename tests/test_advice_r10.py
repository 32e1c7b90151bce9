"""Round-10 regression locks for the ADVICE.md r9 findings.

1. ``_swap_table_dirs`` TOCTOU: Hadoop's rename onto an existing dir
   NESTS the source inside it and returns True (empirically confirmed
   on the local FS). Epoch stages now sit beside the table
   (``<base>.staging-epoch-<id>``), so no engine code recreates
   ``base`` mid-swap; a writer outside the engine that does gets a
   refusal that deletes nothing and names where the original and the
   rewrite are. ``_restore_aside`` verifies the metadata file landed
   at the top level and never reports an unverified restore.
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
from hbasewd_spark.sources.salted_table import SaltedTable, cluster, compact, rebucket


@pytest.mark.parametrize("verb", ["compact", "rebucket", "cluster"])
def test_swap_refuses_base_recreated_mid_swap(spark, tmp_path, monkeypatch, verb):
    """A writer outside the lifecycle lock recreates ``base`` between
    the swap's aside rename and its swap rename. The verb raises and
    deletes nothing: the racer's dir stays, and ``base.old`` and the
    rewrite at the path the error names each load with every row."""
    import re

    path = str(tmp_path / f"{verb}_race")
    df = spark.range(300).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )
    t = SaltedTable.write(df, path, HashDistributor(4), "key_long")
    real = Fs.rename
    fired = []

    def racing(self, src, dst):
        ok = real(self, src, dst)
        if dst.rstrip("/") == path + ".old" and not fired:
            fired.append(1)
            self.mkdirs(path + "/.staging-racer")
        return ok

    monkeypatch.setattr(Fs, "rename", racing)
    with pytest.raises(IOError, match="nothing was deleted") as err:
        if verb == "compact":
            compact(t)
        elif verb == "rebucket":
            rebucket(t, HashDistributor(8))
        else:
            cluster(t, "key_long", "v")
    monkeypatch.undo()
    assert fired
    fs = Fs(spark, path)
    assert fs.exists(path + "/.staging-racer"), "the racer's dir was deleted"
    m = re.search(r"original table is at (\S+) and the rewrite at (\S+)$", str(err.value))
    assert m, str(err.value)
    original, rewrite = m.groups()
    assert original == path + ".old"
    assert SaltedTable.load(spark, original).df().count() == 300
    assert SaltedTable.load(spark, rewrite).df().count() == 300


def test_swap_refuses_rewrite_nested_by_a_late_writer(spark, tmp_path, monkeypatch):
    """The writer recreates ``base`` after the swap's occupied check and
    before its swap rename, which then nests the rewrite inside it
    while returning True. The post-condition (no metadata file at the
    top of ``base``) raises, deletes nothing, and names the nested
    rewrite and the aside original."""
    path = str(tmp_path / "late")
    df = spark.range(300).select(
        F.col("id").alias("key_long"), (F.col("id") * 3).alias("v")
    )
    t = SaltedTable.write(df, path, HashDistributor(4), "key_long")
    real_exists = Fs.exists
    fired = []

    def racing_exists(self, p, _real=real_exists):
        if p == path and not fired and _real(self, path + ".old"):
            fired.append(1)  # blind the occupied check, then recreate base
            self.mkdirs(path + "/.staging-racer")
            return False
        return _real(self, p)

    monkeypatch.setattr(Fs, "exists", racing_exists)
    with pytest.raises(IOError, match="did not land flat") as err:
        compact(t)
    monkeypatch.undo()
    assert fired
    nested = path + "/late.compact_tmp"
    msg = str(err.value)
    assert msg.endswith(f"the original table is at {path}.old and the rewrite at {nested}"), msg
    fs = Fs(spark, path)
    assert fs.exists(path + "/.staging-racer"), "the racer's dir was deleted"
    assert SaltedTable.load(spark, path + ".old").df().count() == 300
    assert SaltedTable.load(spark, nested).df().count() == 300


def test_restore_aside_verifies_and_unnests(spark, kv, tmp_path, monkeypatch):
    """_restore_aside contract (r10 follow-up review): the restore
    rename is itself TOCTOU-prone — a writer can recreate base between
    the helper's guard and the rename, nesting the only original copy
    while rename returns True. The helper must detect the nesting via
    the META check, name the nested path, delete nothing, and never
    report 'restored' unverified."""
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
    # into the existing dir then really nests — the helper must say
    # where the original is and leave it there
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
    nested = base + "/ra.old"
    assert msg.startswith(f"NESTED at {nested}"), f"nesting not reported: {msg}"
    assert "nothing was deleted" in msg
    assert SaltedTable.load(spark, nested).df().count() == n
    assert fs.exists(base + "/.staging-racer2"), "the racer's dir was deleted"


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

    # a file: path takes the exclusive local create; force the Hadoop
    # create path every other scheme uses
    monkeypatch.setattr(Fs, "_local_file", lambda self, p: None)
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
