"""SaltedTable.scanner(): one Spark job per key-range chunk, merged on
the driver, with scan(ordered=True)'s NULL-key placement."""

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.plans.distributor import HashDistributor
from hbasewd_spark.sources.kv_fixture import KEY_PREFIX, kv_df
from hbasewd_spark.sources.salted_table import SaltedTable


@pytest.fixture(scope="module")
def null_key_table(spark, tmp_path_factory):
    df = spark.range(1_000).select(
        F.when(F.col("id") % 91 == 7, None).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    path = str(tmp_path_factory.mktemp("scanner") / "nullkeys")
    return SaltedTable.write(df, path, HashDistributor(4), "k", zone_map_cols=["k"])


@pytest.mark.parametrize("cap", [None, 50])
def test_unbounded_scanner_yields_null_keys_first(null_key_table, cap):
    """An unbounded scanner yields every row, NULL keys first, in the
    order scan() sorts them; NULL-keyed rows tie, so they match as a
    multiset."""
    t = null_key_table
    want = [tuple(r) for r in t.scan().collect()]
    got = [tuple(r) for r in t.scanner(max_buffer_rows=cap)]
    assert len(got) == len(want) == 1_000
    assert [r[0] for r in got] == [r[0] for r in want]
    n_null = sum(r[0] is None for r in want)
    assert n_null == 11
    assert sorted(got[:n_null]) == sorted(want[:n_null])
    assert got[n_null:] == want[n_null:]
    # any bound excludes NULL keys, as the range predicate does in scan()
    assert [tuple(r) for r in t.scanner(stop=500, max_buffer_rows=cap)] == [
        tuple(r) for r in t.scan(stop=500).collect()
    ]


def test_scanner_runs_one_job_per_chunk(spark, tmp_path, spark_jobs):
    """A narrow uncapped scanner is ONE Spark job over all buckets; a
    capped one runs one job per chunk; no chunk plan has an Exchange."""
    t = SaltedTable.write(
        kv_df(spark), str(tmp_path / "jobs"), HashDistributor(8), "key_long",
        zone_map_cols=["key_long"],
    )
    lo, hi = KEY_PREFIX + 100, KEY_PREFIX + 900
    want = [tuple(r) for r in t.scan(lo, hi).collect()]

    got, jobs = spark_jobs(
        "scanner-uncapped", lambda: [tuple(r) for r in t.scanner(lo, hi)]
    )
    assert got == want
    assert len(jobs) == 1, jobs

    cap = 20
    bounds = t._scanner_chunk_bounds(lo, hi, cap * t.distributor.buckets)
    assert len(bounds) >= 1
    got, jobs = spark_jobs(
        "scanner-capped",
        lambda: [tuple(r) for r in t.scanner(lo, hi, max_buffer_rows=cap)],
    )
    assert got == want
    assert len(jobs) == len(bounds) + 1, (jobs, bounds)

    edges = [lo] + bounds + [hi]
    for a, b in zip(edges, edges[1:]):
        plan = t._scanner_chunk_df(a, b)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
