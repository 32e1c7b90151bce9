"""Property tests for scan_merged's planning math (round 6): the
quantile boundary cutter and the shard-count sizing are pure driver
functions, so hypothesis can sweep zone geometries no fixture table
would ever produce — overlapping, disjoint, point-mass, null-heavy,
clipped, reversed-request."""

from types import SimpleNamespace as Z

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from hbasewd_spark.sources.salted_table import SaltedTable


def zrow(lo, hi, n_rows, n_nulls=0):
    return Z(lo=lo, hi=hi, n_rows=n_rows, n_nulls=n_nulls, file=f"f{lo}-{hi}")


def ztable(rows, key_type=pa.int64()):
    """The planner's columnar zone input for ``rows``."""
    return pa.table({
        "file": pa.array([r.file for r in rows], pa.string()),
        "lo": pa.array([r.lo for r in rows], key_type),
        "hi": pa.array([r.hi for r in rows], key_type),
        "n_rows": pa.array([r.n_rows for r in rows], pa.int64()),
        "n_nulls": pa.array([r.n_nulls for r in rows], pa.int64()),
    })


def qbounds(rows, start, stop, n_shards):
    out = SaltedTable._quantile_bounds(ztable(rows), start, stop, n_shards)
    return None if out is None else out.to_pylist()


zones = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=1, max_value=100_000),
        st.integers(min_value=0, max_value=50),
    ).map(lambda t: zrow(min(t[0], t[1]), max(t[0], t[1]), t[2], min(t[3], t[2]))),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(
    zones,
    st.one_of(st.none(), st.integers(min_value=-100, max_value=10_100)),
    st.one_of(st.none(), st.integers(min_value=-100, max_value=10_100)),
    st.integers(min_value=1, max_value=64),
)
def test_quantile_bounds_invariants(rows, start, stop, n_shards):
    """For ANY zone geometry: boundaries are strictly increasing,
    strictly inside (start, stop), inside the clipped zone hull, and
    there are at most n_shards - 1 of them."""
    if start is not None and stop is not None and start > stop:
        start, stop = stop, start
    bounds = qbounds(rows, start, stop, n_shards)
    assert bounds is not None  # int keys always interpolate
    assert len(bounds) <= max(0, n_shards - 1)
    assert all(b1 < b2 for b1, b2 in zip(bounds, bounds[1:]))
    for b in bounds:
        if start is not None:
            assert b > start
        if stop is not None:
            assert b < stop
    if bounds:
        lo_hull = min(r.lo for r in rows)
        hi_hull = max(r.hi for r in rows)
        assert all(lo_hull <= b <= hi_hull for b in bounds)


@settings(max_examples=200, deadline=None)
@given(zones, st.integers(min_value=2, max_value=16))
def test_quantile_bounds_are_row_balanced_on_uniform_zones(rows, n_shards):
    """When the mixture has real mass, interior cuts exist whenever the
    domain has interior room: a single wide uniform file must be cut
    into n_shards near-equal slices (the salted-layout case that
    degenerated in r5)."""
    wide = [zrow(0, 10_000, 100_000) for _ in range(4)]
    bounds = qbounds(wide, None, None, n_shards)
    assert len(bounds) == n_shards - 1
    # near-equal spacing for the uniform mixture (within 2% of ideal)
    ideal = 10_000 / n_shards
    edges = [0] + bounds + [10_000]
    for a, b in zip(edges, edges[1:]):
        assert abs((b - a) - ideal) <= max(2, 0.02 * 10_000)


def test_quantile_bounds_empty_and_pointmass_edges():
    # zero usable mass -> no cuts
    assert qbounds([zrow(5, 5, 10)], None, None, 4) == []
    # all rows null -> weight 0 -> no cuts
    assert (
        qbounds([zrow(0, 100, 10, n_nulls=10)], None, None, 4)
        == []
    )
    # clip excludes everything -> no cuts
    assert (
        qbounds([zrow(0, 100, 1000)], 500, 900, 4) == []
    )


def mixture_cdf(rows, b):
    """Reference: rows of the per-file uniform-density mixture at or
    below ``b``, summed one file at a time."""
    total = 0.0
    for r in rows:
        w = max(0, r.n_rows - r.n_nulls)
        if r.hi > r.lo:
            total += w * min(1.0, max(0.0, (b - r.lo) / (r.hi - r.lo)))
        elif b >= r.hi:
            total += w
    return total


float_zones = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=10_000, allow_nan=False),
        st.floats(min_value=1, max_value=5_000, allow_nan=False),
        st.integers(min_value=1, max_value=100_000),
        st.integers(min_value=0, max_value=50),
    ).map(lambda t: zrow(t[0], t[0] + t[1], t[2], min(t[3], t[2] - 1))),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(float_zones, st.integers(min_value=2, max_value=32))
def test_quantile_bounds_match_the_reference_cdf(rows, n_shards):
    """Each cut is the smallest key whose reference mixture CDF reaches
    its j/n_shards quantile, and on a continuous mixture every one of
    the n_shards - 1 quantiles yields its own cut (float keys: the cut
    is the axis value itself)."""
    cuts = SaltedTable._quantile_bounds(
        ztable(rows, pa.float64()), None, None, n_shards
    ).to_pylist()
    total = mixture_cdf(rows, float("inf"))
    span = max(r.hi for r in rows) - min(r.lo for r in rows)
    tol, eps = 1e-6 * total, 1e-9 * span
    assert len(cuts) == n_shards - 1
    for j, b in enumerate(cuts, start=1):
        target = total * j / n_shards
        assert mixture_cdf(rows, b) >= target - tol
        assert mixture_cdf(rows, b - eps) <= target + tol


def reference_walk(rows, n_shards):
    """Reference whole-file walk: over the (lo, file)-sorted zones but
    the last, the hi of every file whose cumulative weight crosses a
    j/n_shards threshold."""
    rows = sorted(rows, key=lambda r: (r.lo, r.file))
    w = [max(0, r.n_rows - r.n_nulls) for r in rows]
    total, acc, cuts = sum(w), 0, set()
    for r, wi in zip(rows[:-1], w):
        before, acc = acc, acc + wi
        if any(before < total * j / n_shards <= acc for j in range(1, n_shards)):
            cuts.add(r.hi)
    return sorted(cuts)


string_zones = st.lists(
    st.tuples(
        st.text("abcdef", min_size=1, max_size=4),
        st.text("abcdef", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=1_000),
        st.integers(min_value=0, max_value=10),
    ).map(lambda t: zrow(min(t[0], t[1]), max(t[0], t[1]), t[2], min(t[3], t[2] - 1))),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(string_zones, st.integers(min_value=2, max_value=16))
def test_file_boundary_cuts_match_the_reference_walk(rows, n_shards):
    zt = ztable(rows, pa.string()).sort_by([("lo", "ascending"), ("file", "ascending")])
    got = SaltedTable._file_boundary_cuts(zt, None, None, n_shards).to_pylist()
    assert got == reference_walk(rows, n_shards)
    assert len(got) <= n_shards - 1


@settings(max_examples=300, deadline=None)
@given(
    st.floats(min_value=0, max_value=1e12, allow_nan=False),
    st.integers(min_value=1, max_value=8192),
)
def test_merged_shard_count_monotone_and_bounded(est, par):
    n = SaltedTable._merged_shard_count(est, par)
    assert n >= 1
    # never more shards than one per MIN_ROWS (plus the +1 seed),
    # unless volume demands TARGET-row shards beyond core count
    assert n <= max(
        int(est // SaltedTable.MERGED_SCAN_MIN_ROWS) + 1,
        int(est // SaltedTable.MERGED_SCAN_TARGET_ROWS) + 1,
    )
    # parallelism caps the fan-out until volume exceeds par * TARGET
    if est <= par * SaltedTable.MERGED_SCAN_TARGET_ROWS:
        assert n <= par + 1
    # monotone in est (spot-check against a smaller estimate)
    if est >= 2:
        assert n >= SaltedTable._merged_shard_count(est / 2, par)
