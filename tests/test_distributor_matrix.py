"""Port of the reference's shared integration suite — the same 6 tests
run against every distribution strategy (RowKeyDistributorTestBase.java
75-136, parameterized by the four concrete suites; FIXTURES.md §A2).

Improvements over the reference, per SURVEY.md §5: the order/containment
invariants are asserted for *every* row (the reference skips row #1,
RowKeyDistributorTestBase.java:164), and counts come from the same
inline oracle the reference uses (:140-149).
"""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.plans.distributor import (
    Hash31Distributor,
    HashDistributor,
    IdentityDistributor,
    MultiBytePrefixDistributor,
    RoundRobinDistributor,
)
from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
from hbasewd_spark.sources.salted_table import SaltedTable

STRATEGIES = {
    # RowKeyDistributorByOneBytePrefixTest.java:23 — 12 buckets round-robin
    "rr12": lambda: RoundRobinDistributor(12, order_col="write_seq"),
    # _OneByteSimpleHashTest.java:5 — 15-bucket 31-hash
    "hash15": lambda: Hash31Distributor(15),
    # engine-native hash variant
    "xxhash8": lambda: HashDistributor(8),
    # _IdentityHashTest.java:8-36 — degenerate single bucket
    "identity": lambda: IdentityDistributor(),
    # _MultiBytesPrefixHashTest.java:8-39 — 2-byte prefixes, 3 buckets
    "multi3": lambda: MultiBytePrefixDistributor(),
}


@pytest.fixture(scope="module", params=sorted(STRATEGIES))
def table(request, spark, kv, tmp_path_factory):
    name = request.param
    dist = STRATEGIES[name]()
    key_col = "key" if name == "multi3" else "key_long"
    path = str(tmp_path_factory.mktemp("salted") / name)
    t = SaltedTable.write(kv, path, dist, key_col)
    t.name = name
    return t


def _key(table, val):
    """Key-typed bound for the strategy's key column."""
    import struct

    if table.key_col == "key":
        return struct.pack(">q", KEY_PREFIX + val)
    return KEY_PREFIX + val


def _bounds(table, lo, hi):
    return _key(table, lo), _key(table, hi)


def _assert_scan(table, start_val, stop_val):
    start = _key(table, start_val) if start_val is not None else None
    stop = _key(table, stop_val) if stop_val is not None else None
    rows = (
        table.scan(start=start, stop=stop)
        .select("key_long", "val")
        .collect()
    )
    lo = start_val if start_val is not None else -(10**9)
    hi = (stop_val - 1) if stop_val is not None else 10**9
    # exact count vs the generator's inline oracle (ref :176)
    assert len(rows) == expected_in_range(lo, hi)
    prev = None
    for r in rows:
        # containment for EVERY row (ref misses row #1, :164-171)
        assert lo <= r.val <= hi
        # non-decreasing original-key order (ref :165-167)
        if prev is not None:
            assert prev <= r.key_long
        prev = r.key_long


# -- the 6-test matrix ------------------------------------------------------


def test_get(table, kv):
    """testGet (ref :75-87): every written key is retrievable by its
    original key; salt round-trips (getOriginalKey∘getDistributedKey=id
    becomes drop(salt))."""
    import struct

    for val in (500, 499, 998, 1):
        key_long = KEY_PREFIX + val
        key = struct.pack(">q", key_long) if table.key_col == "key" else key_long
        got = table.point_get(key).select("val").collect()
        assert len(got) >= 1
        assert all(r.val == val for r in got)


def test_simple_scan_bounded(table):
    """testSimpleScanBounded (ref :89-100): [ts+100, ts+900) -> vals 100..899."""
    _assert_scan(table, 100, 900)


def test_simple_scan_unbounded(table):
    """testSimpleScanUnbounded (ref :102-107)."""
    _assert_scan(table, None, None)


def test_simple_scan_without_stop_key(table):
    """testSimpleScanWithoutStopKey (ref :109-116)."""
    _assert_scan(table, 100, None)


def test_map_reduce_bounded(table):
    """testMapReduceBounded (ref :118-129): unordered parallel read,
    count == oracle (RowCounterMapper parity, ref :199-203)."""
    start, stop = _bounds(table, 100, 900)
    n = table.parallel_read(start=start, stop=stop).count()
    assert n == expected_in_range(100, 899)


def test_map_reduce_unbounded(table):
    """testMapReduceUnbounded (ref :131-136)."""
    assert table.parallel_read().count() == 500


def test_salt_domain(table):
    """All salts within the declared domain (getAllPossiblePrefixes,
    O6) and, for multi-bucket strategies, more than one bucket used."""
    salts = [r.salt for r in table.df().select("salt").distinct().collect()]
    assert set(salts) <= set(table.distributor.all_salts())
    if table.distributor.buckets > 1:
        assert len(salts) > 1


def test_scanner_heap_merge_matrix(table):
    """scanner() parity for EVERY strategy (DistributedScanner.java:
    106-139: one scanner per bucket, next() pops the smallest head):
    the driver-pull run merge must yield the same rows as the
    distributed ordered scan, in non-decreasing key order, and each
    chunk's plan must be Exchange-free (a pushed-down range read of
    every bucket, nothing else). Duplicate keys (the zig-zag fixture keeps
    them) may tie-break differently between the two paths, so rows are
    compared as a multiset and order is asserted on the key alone."""
    start, stop = _bounds(table, 100, 900)
    want = [
        tuple(r) for r in table.scan(start=start, stop=stop, ordered=True).collect()
    ]
    got = [tuple(r) for r in table.scanner(start=start, stop=stop)]
    assert sorted(got) == sorted(want)
    assert len(got) == expected_in_range(100, 899)
    cols = table.scan(start=start, stop=stop).columns
    key_idx = cols.index(table.key_col)
    keys = [r[key_idx] for r in got]
    assert keys == sorted(keys)
    plan = (
        table._scanner_chunk_df(start, stop)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_multi_get(table):
    """Batch point lookup (HTable.get(List<Get>) parity): same rows as
    N single gets, one job."""
    vals = [500, 499, 998, 1]
    keys = [_key(table, v) for v in vals]
    got = sorted(r.val for r in table.multi_get(keys).select("val").collect())
    single = sorted(
        r.val for v in vals for r in table.point_get(_key(table, v)).select("val").collect()
    )
    assert got == single and len(got) >= len(vals)


def test_multi_get_prunes_to_salt_in_list(table):
    """Deterministic salting: multi_get filters on ``salt IN (f(k)…)``
    and ``key IN (k…)``, and the salt list is a partition filter."""
    if not table.distributor.deterministic:
        pytest.skip("round-robin salts are not a function of the key")
    vals = [500, 499, 998, 1, 10**6]  # the last key is absent
    got = table.multi_get([_key(table, v) for v in vals])
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # a single bucket folds the list to one `salt = 0` equality
    assert "salt" in pf and (" IN" in pf or table.distributor.buckets == 1), pf
    want = sorted(
        r.val
        for v in vals
        for r in table.point_get(_key(table, v)).select("val").collect()
    )
    assert sorted(r.val for r in got.select("val").collect()) == want
    assert len(want) >= 4


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_df_schema_matches_inferred_schema(table, spark, kv, tmp_path, fmt):
    """df() reads every format with the persisted data schema plus
    ``salt int``; that is the schema Spark infers for the same files:
    from the files for the columnar formats, from the persisted data
    schema plus the discovered partition column for csv/json."""
    import json

    from pyspark.sql.types import StructType

    if fmt == "csv" and table.key_col == "key":
        pytest.skip("CSV cannot carry BinaryType (documented)")
    data = kv.drop("key") if fmt == "csv" else kv
    path = str(tmp_path / fmt)
    SaltedTable.write(data, path, STRATEGIES[table.name](), table.key_col, fmt=fmt)
    t = SaltedTable.load(spark, path)
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        reader = reader.schema(StructType.fromJson(json.loads(t.data_schema_json)))
    if fmt == "csv":
        reader = reader.option("header", "true")
    assert t.df().schema == reader.load(path).schema
    assert t.df().count() == data.count()


def test_custom_distributor_spi_full_lifecycle(spark, kv, tmp_path):
    """O12 user-extension path, end to end: a distributor defined
    OUTSIDE the engine registers via register_distributor, salts a
    table, round-trips through the persisted metadata (O11 — a fresh
    SaltedTable.load rehydrates the custom class from the registry,
    no reflection), serves correct scans/point gets, and passes the
    salt-invariant validate(). Mirrors the reference's pluggable
    AbstractRowKeyDistributor + Parametrizable wire shape
    (RowKeyDistributorByHashPrefix.java:28,137-152)."""
    from pyspark.sql import functions as F

    from hbasewd_spark.plans.distributor import (
        KeyDistributor,
        from_param_string,
        register_distributor,
        to_param_string,
    )
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, expected_in_range
    from hbasewd_spark.sources.salted_table import SaltedTable

    class ModuloDistributor(KeyDistributor):
        """Toy user strategy: bucket = key % N (deterministic)."""

        name = "user_modulo"

        def salt_expr(self, key):
            c = F.col(key) if isinstance(key, str) else key
            return F.pmod(c.cast("bigint"), F.lit(self.buckets)).cast("int")

    register_distributor(ModuloDistributor)

    # Parametrizable wire-shape round-trip resolves the custom class
    d = from_param_string(to_param_string(ModuloDistributor(6)))
    assert isinstance(d, ModuloDistributor) and d.buckets == 6

    t = SaltedTable.write(kv, str(tmp_path / "spi"), ModuloDistributor(6), "key_long")
    # metadata round-trip: a fresh handle gets the custom class back
    t2 = SaltedTable.load(spark, t.path)
    assert type(t2.distributor).__name__ == "ModuloDistributor"
    assert t2.distributor.buckets == 6

    lo, hi = KEY_PREFIX + 100, KEY_PREFIX + 900
    assert t2.scan(start=lo, stop=hi).count() == expected_in_range(100, 899)
    assert t2.point_get(KEY_PREFIX + 500).count() >= 1
    assert t2.validate().count() == 0
