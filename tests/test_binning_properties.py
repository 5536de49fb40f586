"""Property-based binning semantics (hypothesis): for arbitrary bin
geometry, values placed anywhere EXCEPT within FP-ambiguous distance of an
edge must classify exactly like the reference semantics — half-bin-shifted
edges, inclusive last edge, out-of-range rejection. Complements the golden
random tests with adversarial geometry (tiny/huge widths, offsets,
single-bin cubes)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sed_binning_spark.binning.binning import bin_dataframe, bin_dataframe_sparse

_SET = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def _binning_case(draw):
    nbins = draw(st.integers(1, 40))
    lo = draw(st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False))
    width = draw(st.floats(1e-3, 1e4, allow_nan=False, allow_infinity=False))
    # values addressed by (bin index, offset from center): stays >= 0.05*w
    # away from every edge, so classification has no FP ambiguity
    placements = draw(
        st.lists(
            st.tuples(st.integers(-3, nbins + 2),
                      st.floats(-0.45, 0.45, allow_nan=False)),
            min_size=1, max_size=120,
        ),
    )
    return nbins, lo, width, placements


@_SET
@given(case=_binning_case())
def test_uniform_binning_classification_property(spark, case):
    nbins, lo, width, placements = case
    w = width / nbins
    hi = lo + width
    values = [lo + b * w + frac * w for b, frac in placements]
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    cube = bin_dataframe(df, bins=[nbins], axes=["v"], ranges=[(lo, hi)])

    want = np.zeros(nbins, dtype=np.float32)
    for b, _frac in placements:
        if 0 <= b <= nbins - 1:
            want[b] += 1
    np.testing.assert_array_equal(cube.data, want)
    # sparse (oracle) path agrees cell-for-cell
    sparse = bin_dataframe_sparse(df, bins=[nbins], axes=["v"], ranges=[(lo, hi)])
    got = {int(r["v"]): r["count"] for r in sparse.collect()}
    assert got == {i: int(c) for i, c in enumerate(want) if c}


@settings(_SET, print_blob=True)  # a failure prints its @reproduce_failure blob
@given(
    centers=st.lists(
        st.floats(-1e4, 1e4, allow_nan=False, allow_infinity=False),
        min_size=2, max_size=200, unique=True,
    ),
    placements=st.lists(
        st.tuples(st.integers(-2, 202), st.floats(-0.4, 0.4, allow_nan=False)),
        min_size=1, max_size=60,
    ),
)
def test_explicit_edges_classification_property(spark, centers, placements):
    """Explicit (possibly non-uniform) bin centers, up to 200 of them: same
    off-edge classification contract through the explicit-edge index."""
    from hypothesis import assume

    from sed_binning_spark.binning.utils import bin_centers_to_bin_edges

    centers = np.sort(np.asarray(centers, dtype=float))
    assume(np.diff(centers).min() > 1e-6 * max(1.0, np.abs(centers).max()))
    edges = bin_centers_to_bin_edges(centers)
    n = len(centers)
    mids = (edges[:-1] + edges[1:]) / 2
    widths = np.diff(edges)
    values, want = [], np.zeros(n, dtype=np.float32)
    for b, frac in placements:
        if 0 <= b < n:
            values.append(float(mids[b] + frac * widths[b]))
            want[b] += 1
        else:  # out of range on either side
            values.append(float(edges[0] - 1.0 if b < 0 else edges[-1] + 1.0))
    df = spark.createDataFrame([(v,) for v in values], "v double")
    cube = bin_dataframe(df, bins=[np.asarray(centers)], axes=["v"])
    np.testing.assert_array_equal(cube.data, want)


@_SET
@given(
    nbins=st.integers(1, 20),
    lo=st.floats(-100, 100, allow_nan=False),
    width=st.floats(0.1, 100, allow_nan=False),
)
def test_nan_and_null_always_rejected_property(spark, nbins, lo, width):
    rows = [(float(lo),), (float("nan"),), (None,)]
    df = spark.createDataFrame(rows, "v double")
    cube = bin_dataframe(df, bins=[nbins], axes=["v"], ranges=[(lo, lo + width)])
    assert float(cube.data.sum()) == 1.0  # only the real value lands


def _sorted_chunks(vals: np.ndarray, n_chunks: int) -> list[np.ndarray]:
    """Executor-shaped kernel input: ``vals`` split into sorted slices."""
    return [np.sort(c) for c in np.array_split(vals, n_chunks)]


@given(
    n_vals=st.integers(0, 50_000),
    n_cells=st.integers(1, 300_000),
    seed=st.integers(0, 2**31),
    n_chunks=st.integers(1, 5),
)
@settings(max_examples=20, deadline=None)
def test_driver_bincount_strategies_agree(n_vals, n_cells, seed, n_chunks):
    """Every counting strategy of the dense-driver kernel must equal plain
    np.bincount for any value distribution, chunking and cell count: the
    run-length scatter (a range holding fewer values than cells), the
    whole-range gather + bincount (a denser range), and the same gather
    counted in pieces (a tiny gather cap). Sizes only pick WHICH strategy
    runs, never change the result; values at the NULL sentinel ``n_cells``
    are never counted."""
    from sed_binning_spark.binning import binning as binning_mod

    rng = np.random.default_rng(seed)
    vals = rng.integers(0, n_cells + 1, n_vals).astype(np.int32)
    want = np.bincount(vals, minlength=n_cells + 1)[:n_cells]
    slices = _sorted_chunks(vals, n_chunks)
    old_cap = binning_mod._GATHER_CAP
    try:
        for cap in (old_cap, 7):
            binning_mod._GATHER_CAP = cap
            got = binning_mod._sorted_slices_histogram(slices, n_cells)
            np.testing.assert_array_equal(got, want)
    finally:
        binning_mod._GATHER_CAP = old_cap


def test_driver_bincount_threaded_paths_agree(monkeypatch):
    """Two driver threads and sizes that split the cell space into more
    ranges than threads, so each thread takes several ranges round-robin:
    9e6 values over 1e5 cells (4 dense ranges: gather + bincount) and 5e6
    values over 9e6 cells (3 sparse ranges: run-length scatter) — pinning
    the range bounds and per-range span arithmetic against np.bincount."""
    from sed_binning_spark.binning import binning as binning_mod

    monkeypatch.setattr(binning_mod, "_driver_threads", lambda: 2)
    rng = np.random.default_rng(11)
    for n_vals, n_cells in ((9_000_000, 100_000), (5_000_000, 9_000_000)):
        vals = rng.integers(0, n_cells, n_vals).astype(np.int32)
        got = binning_mod._sorted_slices_histogram(_sorted_chunks(vals, 7), n_cells)
        np.testing.assert_array_equal(got, np.bincount(vals, minlength=n_cells))


@st.composite
def _kernel_call(draw):
    """One call of the dense-driver kernel: a cell count (small -> dense
    ranges, >= 3e6 -> several ranges, mostly sparse), 0..12 slices of
    random length (empty ones included) and a seed for their values."""
    n_cells = draw(st.one_of(st.integers(1, 2_000),
                             st.integers(3_000_000, 12_000_000)))
    lens = draw(st.lists(st.integers(0, 20_000), max_size=12))
    return n_cells, lens, draw(st.integers(0, 2**32 - 1))


@given(
    calls=st.lists(_kernel_call(), min_size=2, max_size=3),
    first_dtype=st.sampled_from([np.int32, np.int64]),
    small_gather_cap=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_threaded_bincount_scratch_reuse_is_invisible(calls, first_dtype, small_gather_cap):
    """Consecutive kernel calls must each equal np.bincount(...)[:n_cells]
    while n_cells shrinks and the dtype switches. Within a call each driver
    thread reuses one gather scratch across its ranges, so a stale value of
    an earlier range or call would show up as a wrong count. Each call also
    covers any slicing, including empty slices, one slice the executors
    failed to sort, int32 and int64 indices, and values at the NULL
    sentinel ``n_cells`` (never counted). Half the values crowd a 64-cell
    window, so dense (bincount) ranges sit beside sparse (run-length
    scatter) ones; a small gather cap forces dense ranges to count in
    pieces."""
    from sed_binning_spark.binning import binning as binning_mod

    calls = sorted(calls, key=lambda c: -c[0])
    dtypes = [first_dtype, np.int64 if first_dtype is np.int32 else np.int32]
    old_cap = binning_mod._GATHER_CAP
    if small_gather_cap:
        binning_mod._GATHER_CAP = 997
    try:
        for k, (n_cells, lens, seed) in enumerate(calls):
            rng = np.random.default_rng(seed)
            hot = int(rng.integers(0, n_cells + 1))
            slices = []
            for n in lens:
                v = np.where(
                    rng.random(n) < 0.5,
                    rng.integers(0, n_cells + 1, n),
                    np.minimum(hot + rng.integers(0, 64, n), n_cells),
                )
                slices.append(np.sort(v).astype(dtypes[k % 2]))
            if slices:
                i = int(rng.integers(0, len(slices)))
                slices[i] = rng.permutation(slices[i])
            vals = np.concatenate([np.zeros(0, np.int64), *slices]).astype(np.int64)
            want = np.bincount(vals, minlength=n_cells + 1)[:n_cells]
            got = binning_mod._sorted_slices_histogram(slices, n_cells)
            assert got.dtype == np.float32
            np.testing.assert_array_equal(got, want)
    finally:
        binning_mod._GATHER_CAP = old_cap
