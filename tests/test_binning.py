"""Binning kernel-vs-oracle golden tests (mirrors reference
tests/test_binning.py:98-212 — same aggregation, independent engine,
exact match vs np.histogramdd under the reference's edge semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from sed_binning_spark.binning.binning import (
    bin_dataframe,
    bin_dataframe_sparse,
    normalization_histogram_from_timed_dataframe,
    normalization_histogram_from_timestamps,
)
from sed_binning_spark.binning.utils import (
    bin_centers_to_bin_edges,
    bin_edges_to_bin_centers,
    simplify_binning_arguments,
)


def _np_hist(pdf, axes, bins, ranges):
    """NumPy oracle with the reference's int-bins semantics: the given range
    denotes first/last bin CENTERS, so edges shift down by half a bin
    (sed/binning/binning.py:134-143); last edge inclusive (np.histogramdd
    default)."""
    edges = []
    for n, (lo, hi) in zip(bins, ranges):
        w = (hi - lo) / n
        edges.append(np.linspace(lo - w / 2, hi - w / 2, n + 1))
    sample = pdf[list(axes)].to_numpy()
    hist, _ = np.histogramdd(sample, bins=edges)
    return hist


@pytest.mark.parametrize("ndim", [1, 2, 3])
def test_binning_matches_numpy(events_df, events_pdf, ndim):
    axes = ["X", "Y", "t"][:ndim]
    bins = [87, 34, 21][:ndim]
    ranges = [(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0)][:ndim]
    cube = bin_dataframe(events_df, bins=bins, axes=axes, ranges=ranges)
    oracle = _np_hist(events_pdf, axes, bins, ranges)
    assert cube.data.shape == oracle.shape
    np.testing.assert_array_equal(cube.data, oracle.astype(np.float32))
    # bin-center coords: linspace(lo, hi, n, endpoint=False)
    np.testing.assert_allclose(
        cube.coords["X"], np.linspace(0, 2048, bins[0], endpoint=False),
    )


def test_binning_int_samples(spark):
    """Integer-quantized coordinates (the jitter use case) bin exactly."""
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 100, 5000).astype("float64")
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    cube = bin_dataframe(df, bins=[10], axes=["v"], ranges=[(0.0, 99.0)])
    w = 99.0 / 10
    edges = np.linspace(-w / 2, 99.0 - w / 2, 11)
    oracle, _ = np.histogramdd(vals[:, None], bins=[edges])
    np.testing.assert_array_equal(cube.data, oracle.astype(np.float32))


def test_binning_rejects_nan(spark):
    """NaN rows are rejected, never silently binned into bin 0 — guards the
    JVM (long)Math.floor(NaN) == 0 trap in the arithmetic-round fast path
    (reference numba_bin.py:88-89: any NaN comparison is False)."""
    vals = [float("nan"), 0.0, 5.0, 9.0, float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    # half-bin-center semantics: edges span [-0.45, 8.55], so 9.0 is out of
    # range and only 0.0 and 5.0 land; pre-fix the two NaNs inflated bin 0
    cube = bin_dataframe(df, bins=[10], axes=["v"], ranges=[(0.0, 9.0)])
    assert float(cube.data.sum()) == 2.0
    assert float(cube.data[0]) == 1.0  # only the true 0.0 row, not the NaNs
    # explicit non-uniform edge path
    centers = np.array([0.0, 1.0, 3.0, 7.0, 9.0])
    cube2 = bin_dataframe(df, bins=[centers], axes=["v"])
    assert float(cube2.data.sum()) == 3.0


def test_binning_explicit_centers_equals_ranges_path(events_df):
    """bins-as-center-arrays ≡ bins+ranges (reference
    tests/test_binning.py:197-212 cross-path equivalence)."""
    n, lo, hi = 50, 0.0, 2048.0
    cube_int = bin_dataframe(events_df, bins=[n], axes=["X"], ranges=[(lo, hi)])
    centers = np.linspace(lo, hi, n, endpoint=False)
    cube_arr = bin_dataframe(events_df, bins=[centers], axes=["X"])
    np.testing.assert_array_equal(cube_int.data, cube_arr.data)
    np.testing.assert_allclose(cube_int.coords["X"], cube_arr.coords["X"])


def test_binning_nonuniform_edges(spark):
    rng = np.random.default_rng(3)
    vals = rng.uniform(0, 10, 4000)
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    centers = np.array([0.5, 1.0, 3.0, 7.0, 9.0])
    cube = bin_dataframe(df, bins=[centers], axes=["v"])
    edges = bin_centers_to_bin_edges(centers)
    oracle, _ = np.histogramdd(vals[:, None], bins=[edges])
    np.testing.assert_array_equal(cube.data, oracle.astype(np.float32))


def test_binning_rejects_non_numeric(spark):
    df = spark.createDataFrame([("a", 1.0)], "s string, v double")
    with pytest.raises(ValueError, match="numeric"):
        bin_dataframe(df, bins=[10], axes=["s"], ranges=[(0, 1)])


def test_binning_missing_axis(events_df):
    with pytest.raises(KeyError):
        bin_dataframe(events_df, bins=[10], axes=["nope"], ranges=[(0, 1)])


def test_binning_dense_cell_guard(events_df):
    """Bin specs over the driver budget abort with the sparse redirect (and
    the budget is configurable: lowering it trips on a small cube, raising
    it lets the same spec through)."""
    with pytest.raises(ValueError, match="bin_dataframe_sparse"):
        bin_dataframe(
            events_df, bins=[1000, 1000, 1000], axes=["X", "Y", "t"],
            ranges=[(0, 2048), (0, 2048), (60000, 120000)],
        )
    spec = dict(bins=[40, 40], axes=["X", "Y"], ranges=[(0, 2048), (0, 2048)])
    with pytest.raises(ValueError, match="max_dense_cells=1000"):
        bin_dataframe(events_df, max_dense_cells=1000, **spec)
    cube = bin_dataframe(events_df, max_dense_cells=1600, **spec)
    assert cube.data.shape == (40, 40)


def test_binning_filters(events_df, events_pdf):
    """Pre-binning filters use OPEN intervals (processor.py:2218-2234)."""
    cube = bin_dataframe(
        events_df, bins=[40], axes=["X"], ranges=[(0.0, 2048.0)],
        filters=[{"col": "Y", "lower_bound": 500, "upper_bound": 1500}],
    )
    pdf = events_pdf[(events_pdf.Y > 500) & (events_pdf.Y < 1500)]
    oracle = _np_hist(pdf, ["X"], [40], [(0.0, 2048.0)])
    np.testing.assert_array_equal(cube.data, oracle.astype(np.float32))


def test_binning_filter_bad_key(events_df):
    with pytest.raises(ValueError, match="unknown filter keys"):
        bin_dataframe(
            events_df, bins=[10], axes=["X"], ranges=[(0, 2048)],
            filters=[{"col": "X", "wrong": 1}],
        )


def test_binning_jitter_changes_histogram(spark):
    """Jitter must land on the BINNED copy (ADVICE r1: in-place overwrite);
    integer-quantized values + jitter → counts move between bins."""
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 20, 8000).astype("float64")
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    # bins half-integer-aligned so jitter moves events across edges
    plain = bin_dataframe(df, bins=[20], axes=["v"], ranges=[(0.0, 19.0)])
    jit = bin_dataframe(
        df, bins=[20], axes=["v"], ranges=[(0.0, 19.0)], jitter=["v"], jitter_seed=5,
    )
    # jitter only displaces events by half a bin: total counts are
    # preserved up to a small edge loss (a vacuous <= bound would pass
    # even if jitter silently destroyed every event)
    assert 0.95 * plain.data.sum() <= jit.data.sum() <= plain.data.sum()
    assert not np.array_equal(plain.data, jit.data)


def test_binning_jitter_two_center_axis(spark):
    """n=2 explicit centers must not crash the uniformity check (ADVICE r1),
    and events well inside the range must survive the jitter."""
    df = spark.createDataFrame([(0.4,), (1.2,), (0.9,)], "v double")
    cube = bin_dataframe(df, bins=[np.array([0.5, 1.0])], axes=["v"], jitter=["v"], jitter_seed=1)
    assert 1 <= cube.data.sum() <= 3


def test_binning_return_partitions(events_df, events_pdf):
    """A8: trailing df_part axis keyed by file_id."""
    cube = bin_dataframe(
        events_df, bins=[30], axes=["t"], ranges=[(60000.0, 120000.0)],
        return_partitions=True,
    )
    assert cube.dims == ("t", "df_part")
    assert cube.shape[1] == 4
    for fid in range(4):
        pdf = events_pdf[events_pdf.file_id == fid]
        oracle = _np_hist(pdf, ["t"], [30], [(60000.0, 120000.0)])
        np.testing.assert_array_equal(cube.data[:, fid], oracle.astype(np.float32))


def test_binning_sparse_matches_dense(events_df):
    sparse = bin_dataframe_sparse(
        events_df, bins=[25, 13], axes=["X", "Y"], ranges=[(0, 2048), (0, 2048)],
    ).collect()
    dense = bin_dataframe(
        events_df, bins=[25, 13], axes=["X", "Y"], ranges=[(0, 2048), (0, 2048)],
    )
    total = np.zeros((25, 13))
    for r in sparse:
        total[int(r["X"]), int(r["Y"])] = r["count"]
    np.testing.assert_array_equal(total, dense.data)


def test_simplify_binning_arguments_forms():
    b, a, r = simplify_binning_arguments(10, axes=["x", "y"], ranges=[(0, 1), (0, 2)])
    assert b == [10, 10] and a == ["x", "y"]
    b, a, r = simplify_binning_arguments([(0, 1, 5), (0, 2, 8)], axes=["x", "y"])
    assert b == [5, 8] and r == [(0, 1), (0, 2)]
    b, a, r = simplify_binning_arguments({"x": 4}, ranges=[(0, 1)])
    assert a == ["x"] and b == [4]
    with pytest.raises(AttributeError):
        simplify_binning_arguments(10)
    with pytest.raises(AttributeError):
        simplify_binning_arguments([10], axes=["x"])  # no ranges


def test_centers_edges_roundtrip():
    centers = np.array([1.0, 2.0, 3.0, 4.0])
    edges = bin_centers_to_bin_edges(centers)
    np.testing.assert_allclose(edges, [0.5, 1.5, 2.5, 3.5, 4.5])
    np.testing.assert_allclose(bin_edges_to_bin_centers(edges), centers)


def test_normalization_histogram_from_timestamps(events_df, events_pdf):
    """A9: sum of global timestamp diffs per bin — the dt series must equal
    ONE global diff with a single NULL (cross-file boundary carry, r1 fix)."""
    centers = np.linspace(0, 2048, 20, endpoint=False)
    hist = normalization_histogram_from_timestamps(
        events_df, "X", centers, "timeStamps",
    )
    # numpy oracle: global diff in (file_id, row_id) order
    pdf = events_pdf.sort_values(["file_id", "row_id"])
    dt = pdf.timeStamps.diff().to_numpy()
    edges = bin_centers_to_bin_edges(centers)
    idx = np.searchsorted(edges, pdf.X.to_numpy(), side="right") - 1
    idx = np.minimum(idx, len(centers) - 1)
    ok = (pdf.X.to_numpy() >= edges[0]) & (pdf.X.to_numpy() <= edges[-1]) & ~np.isnan(dt)
    oracle = np.zeros(len(centers))
    np.add.at(oracle, idx[ok], dt[ok])
    np.testing.assert_allclose(hist.data, oracle, rtol=1e-9, atol=1e-12)


def test_normalization_histogram_from_timed_dataframe(events_df, events_pdf):
    centers = np.linspace(0, 2048, 16, endpoint=False)
    hist = normalization_histogram_from_timed_dataframe(events_df, "X", centers, 0.001)
    edges = bin_centers_to_bin_edges(centers)
    counts, _ = np.histogram(events_pdf.X.to_numpy(), bins=edges)
    np.testing.assert_allclose(hist.data, counts * 0.001)


def test_return_partitions_includes_empty_files(spark):
    """A source file whose events all fall out of range still gets a zero
    slice on the df_part axis — positional pairing downstream (bias-series
    traces vs bias arrays) depends on it."""
    import pandas as pd

    pdf = pd.DataFrame({
        "t": [10.0, 20.0, 30.0, 999.0, 999.0],   # file 1 entirely out of range
        "file_id": np.array([0, 0, 0, 1, 1], dtype="int64"),
    })
    cube = bin_dataframe(
        spark.createDataFrame(pdf), bins=[4], axes=["t"], ranges=[(0.0, 40.0)],
        return_partitions=True,
    )
    assert list(cube.coords["df_part"]) == [0, 1]
    assert cube.data[:, 1].sum() == 0          # empty file -> zero slice
    assert cube.data[:, 0].sum() == 3


def test_return_partitions_with_declared_values(spark):
    """partition_values skips the distinct() discovery job but must produce
    the identical cube — including zero slices for declared-but-empty
    partitions — and reject a list that misses observed values."""
    import pandas as pd

    pdf = pd.DataFrame({
        "t": [10.0, 20.0, 30.0, 35.0],
        "file_id": np.array([0, 0, 0, 1], dtype="int64"),
    })
    df = spark.createDataFrame(pdf)
    kw = dict(bins=[4], axes=["t"], ranges=[(0.0, 40.0)], return_partitions=True)
    scanned = bin_dataframe(df, **kw)
    declared = bin_dataframe(df, partition_values=[0, 1, 2], **kw)
    assert list(declared.coords["df_part"]) == [0, 1, 2]
    np.testing.assert_array_equal(
        declared.data[:, :2], scanned.data,
    )
    assert declared.data[:, 2].sum() == 0          # declared-but-empty file
    with pytest.raises(ValueError, match="missing file_id values"):
        bin_dataframe(df, partition_values=[0], **kw)


def test_return_partitions_respects_driver_budget(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "t": np.linspace(0, 39, 20),
        "file_id": np.repeat(np.arange(4), 5).astype("int64"),
    })
    with pytest.raises(ValueError, match="driver budget"):
        bin_dataframe(
            spark.createDataFrame(pdf), bins=[100], axes=["t"],
            ranges=[(0.0, 40.0)], return_partitions=True, max_dense_cells=150,
        )


def test_seeded_jitter_differs_per_axis(spark, events_df):
    """A shared seed must NOT produce identical noise on every jittered
    axis (diagonal-only smearing); per-axis seeds decorrelate them while
    staying reproducible."""
    from sed_binning_spark.binning.binning import _apply_binning_jitter

    bins, axes, ranges = [16, 16], ["X", "Y"], [(0.0, 2048.0), (0.0, 2048.0)]
    out = _apply_binning_jitter(
        events_df.select("X", "Y"), ["X", "Y"], bins, axes, ranges, seed=42,
    ).toPandas()
    orig = events_df.select("X", "Y").toPandas()
    nx = (out["X"] - orig["X"]).to_numpy()
    ny = (out["Y"] - orig["Y"]).to_numpy()
    assert nx.std() > 0 and ny.std() > 0
    assert not np.allclose(nx, ny)             # decorrelated
    # reproducible: same seed, same noise
    out2 = _apply_binning_jitter(
        events_df.select("X", "Y"), ["X", "Y"], bins, axes, ranges, seed=42,
    ).toPandas()
    np.testing.assert_allclose(out["X"], out2["X"])


def test_sparse_filters_validate_like_dense(spark, events_df):
    """Both entry points share one filter-spec validator: unknown keys and
    missing 'col' raise identically."""
    from sed_binning_spark.binning.binning import bin_dataframe_sparse

    with pytest.raises(ValueError, match="unknown filter keys"):
        bin_dataframe_sparse(
            events_df, bins=[8], axes=["t"], ranges=[(60000.0, 120000.0)],
            filters=[{"col": "X", "lower": 5}],
        )
    with pytest.raises(ValueError, match="'col' key"):
        bin_dataframe_sparse(
            events_df, bins=[8], axes=["t"], ranges=[(60000.0, 120000.0)],
            filters=[{"lower_bound": 5}],
        )


def test_return_partitions_rejects_null_partitions(spark):
    """NULL partition values must raise on BOTH discovery paths — a silent
    astype would map NaN to INT_MIN and vanish those events."""
    import pandas as pd

    pdf = pd.DataFrame({
        "t": [10.0, 20.0],
        "file_id": pd.array([0, None], dtype="Int64"),
    })
    df = spark.createDataFrame(pdf)
    kw = dict(bins=[4], axes=["t"], ranges=[(0.0, 40.0)], return_partitions=True)
    with pytest.raises(ValueError, match="NULL values"):
        bin_dataframe(df, **kw)
    with pytest.raises(ValueError, match="NULL values"):
        bin_dataframe(df, partition_values=[0, 1], **kw)


def test_routing_probe_skips_tiny_inputs(spark, tmp_path):
    """The auto-router must not pay a count() job on toy-scale input when
    the bin spec is also small: a small parquet scan (far below
    _ROUTE_PROBE_MIN_BYTES) returns None from the cheap estimate, so
    _choose_combine takes the shuffle plan without touching the data.
    When the cell space is HUGE (>= _ROUTE_PROBE_MIN_CELLS), the router pays
    exactly one memoized pruned-count job instead, because a tiny input
    over a huge cell space belongs on the small-rows driver route."""
    from sed_binning_spark.binning import binning as binning_mod

    p = str(tmp_path / "tiny.parquet")
    spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v").write.parquet(p)
    df = spark.read.parquet(p)

    cls = type(df)  # Spark 4: the classic DataFrame subclass owns count()
    calls = []
    orig = cls.count

    def counting(self):
        calls.append(1)
        return orig(self)

    cls.count = counting
    try:
        # small cell space: no probe job
        assert binning_mod._cheap_row_estimate(df) is None
        assert binning_mod._choose_combine(df, 10**4) == "shuffle"
        assert calls == []
        # huge cell space: one probe count, memoized across repeats
        binning_mod._ROUTE_COUNT_CACHE.clear()
        assert binning_mod._choose_combine(df, 10**8) == "driver"
        assert binning_mod._choose_combine(df, 10**8) == "driver"
        assert binning_mod._cheap_row_estimate(df, 10**8) == 1000
        assert calls == [1]
    finally:
        cls.count = orig


def test_routing_probe_memoizes_counts(spark, tmp_path):
    """When the probe must count (big uncached input is simulated by
    dropping the byte gate; a parquet scan has no exact stats rowCount),
    repeated routing of the same plan reuses the memoized count instead of
    re-running the job."""
    from sed_binning_spark.binning import binning as binning_mod

    p = str(tmp_path / "memo.parquet")
    spark.range(5000).selectExpr("CAST(id AS DOUBLE) AS v").write.parquet(p)
    df = spark.read.parquet(p)

    cls = type(df)  # Spark 4: the classic DataFrame subclass owns count()
    calls = []
    orig = cls.count

    def counting(self):
        calls.append(1)
        return orig(self)

    old_gate = binning_mod._ROUTE_PROBE_MIN_BYTES
    cls.count = counting
    binning_mod._ROUTE_PROBE_MIN_BYTES = 0
    binning_mod._ROUTE_COUNT_CACHE.clear()
    try:
        assert binning_mod._cheap_row_estimate(df) == 5000
        assert binning_mod._cheap_row_estimate(df) == 5000
    finally:
        cls.count = orig
        binning_mod._ROUTE_PROBE_MIN_BYTES = old_gate
        binning_mod._ROUTE_COUNT_CACHE.clear()
    assert len(calls) == 1


def test_routing_memo_survives_a_concurrent_clear(spark, tmp_path, monkeypatch):
    """A memo hit is one locked read: another caller's eviction landing
    between a membership test and the read must not raise KeyError out of
    routing. The cache below empties itself inside ``__contains__``, the
    window a concurrent insert's wholesale clear used to hit."""
    from sed_binning_spark.binning import binning as binning_mod

    p = str(tmp_path / "race.parquet")
    spark.range(300).selectExpr("CAST(id AS DOUBLE) AS v").write.parquet(p)
    df = spark.read.parquet(p)
    monkeypatch.setattr(binning_mod, "_ROUTE_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(binning_mod, "_ROUTE_COUNT_CACHE", {})
    assert binning_mod._cheap_row_estimate(df) == 300

    class ClearedOnLookup(dict):
        def __contains__(self, key):
            found = super().__contains__(key)
            self.clear()
            return found

    monkeypatch.setattr(binning_mod, "_ROUTE_COUNT_CACHE",
                        ClearedOnLookup(binning_mod._ROUTE_COUNT_CACHE))
    assert binning_mod._cheap_row_estimate(df) == 300


def test_routing_memo_evicts_oldest_entry(spark, tmp_path, monkeypatch):
    """The insert past the bound evicts only the oldest entry: the newest
    256 memoized counts, the new one included, stay."""
    from sed_binning_spark.binning import binning as binning_mod

    p = str(tmp_path / "evict.parquet")
    spark.range(70).selectExpr("CAST(id AS DOUBLE) AS v").write.parquet(p)
    df = spark.read.parquet(p)
    old = {(-i, 0): i for i in range(256)}
    monkeypatch.setattr(binning_mod, "_ROUTE_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(binning_mod, "_ROUTE_COUNT_CACHE", dict(old))
    assert binning_mod._cheap_row_estimate(df) == 70
    cache = binning_mod._ROUTE_COUNT_CACHE
    assert len(cache) == 256
    assert (0, 0) not in cache
    assert all(cache[k] == v for k, v in list(old.items())[1:])
    assert list(cache.values())[-1] == 70


def test_routing_counts_a_pruned_python_stage(spark):
    """Routing reads the count's own plan: Catalyst prunes apply_dfield's
    pandas_udf out of a count over a cached frame, so the chain gets the
    exact row count, while a filter on a UDF output and a mapInPandas leaf
    keep their Python node in the count and still return None."""
    from pyspark.sql import functions as F

    from sed_binning_spark.binning import binning as binning_mod
    from sed_binning_spark.calibration.momentum import apply_dfield

    base = spark.range(20_000, numPartitions=4).select(
        (F.rand(3) * 64).alias("X"), (F.rand(4) * 64).alias("Y")).cache()
    try:
        base.count()
        rr, cc = np.meshgrid(np.arange(64.0), np.arange(64.0), indexing="ij")
        chain = apply_dfield(base, np.stack([rr, cc]), detector_ranges=((0, 64), (0, 64)))
        chain = chain.withColumn("s", F.col("Xm") + F.col("Ym"))
        assert "ArrowEvalPython" in chain._jdf.queryExecution().executedPlan().toString()
        binning_mod._ROUTE_COUNT_CACHE.clear()
        assert binning_mod._cheap_row_estimate(chain, 10**8) == chain.count() == 20_000

        kept = chain.where(F.col("Xm") > 1.0)
        assert binning_mod._cheap_row_estimate(kept, 10**8) is None

        def ident(batches):
            yield from batches

        leaf = spark.range(1000).mapInPandas(ident, "id long")
        assert binning_mod._cheap_row_estimate(leaf, 10**8) is None
        assert binning_mod._choose_combine(leaf, 10**8) == "shuffle"
    finally:
        binning_mod._ROUTE_COUNT_CACHE.clear()
        base.unpersist()


def _route(monkeypatch, strategy):
    """Make routing pick ``strategy`` for every call until the test ends,
    as _choose_combine does for an input it can (driver) or cannot
    (shuffle) count."""
    from sed_binning_spark.binning import binning as binning_mod

    monkeypatch.setattr(binning_mod, "_choose_combine", lambda df, n_cells: strategy)


def _bin_routed(df, strategy, **kw):
    """bin_dataframe with routing forced for this one call."""
    with pytest.MonkeyPatch.context() as mp:
        _route(mp, strategy)
        return bin_dataframe(df, **kw)


def test_small_rows_driver_route_matches_shuffle(spark):
    """The r15 small-rows dense route (rows << prod(bins): direct Arrow
    collect + sparse unique-scatter, no dense accumulator) must produce
    the same cube as the shuffle plan, including NULL / out-of-range
    rejects. A cached input has exact rowCount stats, so the auto-router
    picks the driver strategy on its own."""
    import pandas as pd

    from sed_binning_spark.binning import binning as binning_mod

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame({
        "a": np.concatenate([rng.uniform(-5, 25, 20_000), [np.nan, -100.0, 1e9]]),
        "b": np.concatenate([rng.uniform(0, 7, 20_000), [1.0, 2.0, 3.0]]),
    })
    df = spark.createDataFrame(pdf).repartition(5)
    kw = dict(bins=[500, 400], axes=["a", "b"],  # 200k cells >> 20k rows
              ranges=[(0.0, 20.0), (0.0, 6.0)])
    shuffle = _bin_routed(df, "shuffle", **kw)

    # drive the small route directly through the public entry by giving the
    # router an exact estimate (cached + materialized input)
    cached = df.cache()
    try:
        cached.count()
        binning_mod.LAST_RUN_INFO.clear()
        driver = bin_dataframe(cached, **kw)
        # the router must have taken the driver route on its own
        # (20003 rows < 200k cells * 32) and collected over the socket
        assert binning_mod.LAST_RUN_INFO.get("strategy") == "driver"
        assert "small_collect_s" in binning_mod.LAST_RUN_INFO
        np.testing.assert_array_equal(shuffle.data, driver.data)
        assert float(driver.data.sum()) > 0
    finally:
        cached.unpersist()


def test_driver_combine_matches_shuffle_combine(spark):
    """The driver-route histogram must produce the same cube as the
    shuffle plan, including NULL/out-of-range rejects (the sentinel cell)
    and values spread over every thread range."""
    import pandas as pd

    from sed_binning_spark.binning import binning as binning_mod

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame({
        "a": np.concatenate([rng.uniform(-5, 25, 50_000), [np.nan, -100.0, 1e9]]),
        "b": np.concatenate([rng.uniform(0, 7, 50_000), [1.0, 2.0, 3.0]]),
    })
    df = spark.createDataFrame(pdf).repartition(7)
    kw = dict(bins=[40, 13], axes=["a", "b"],
              ranges=[(0.0, 20.0), (0.0, 6.0)])
    shuffle = _bin_routed(df, "shuffle", **kw)
    driver = _bin_routed(df, "driver", **kw)
    assert "small_collect_s" in binning_mod.LAST_RUN_INFO
    np.testing.assert_array_equal(shuffle.data, driver.data)
    assert float(driver.data.sum()) > 0


def test_driver_route_sorts_one_slice_per_thread(spark, monkeypatch):
    """A result that arrives as dozens of Arrow batches still reaches the
    kernel as at most one sorted slice per driver thread, never one slice
    per batch. The collected select's plan holds no Spark sort, the slices
    hold every row between them, and the cube equals np.histogramdd."""
    import pandas as pd

    from sed_binning_spark.binning import binning as binning_mod

    rng = np.random.default_rng(71)
    n = 50_000
    a = rng.uniform(-3, 23, n)
    b = rng.uniform(-1, 7, n)
    a[::101] = np.nan
    b[::89] = 1e9
    pdf = pd.DataFrame({"a": a, "b": b})
    kw = dict(bins=[90, 70], axes=["a", "b"], ranges=[(0.0, 20.0), (0.0, 6.0)])
    want = _np_hist(pdf[pdf.a.notna()], kw["axes"], kw["bins"], kw["ranges"])
    df = spark.createDataFrame(pdf).repartition(5)

    plans, batches, kernel_input = [], [], []
    collect = binning_mod._collect
    kernel = binning_mod._sorted_slices_histogram

    def spying_collect(sel):
        plans.append(sel._jdf.queryExecution().executedPlan().toString())
        tbl = collect(sel)
        batches.append(tbl.column("cell").num_chunks)
        return tbl

    def spying_kernel(slices, n_cells):
        kernel_input.extend(slices)
        return kernel(slices, n_cells)

    monkeypatch.setattr(binning_mod, "_collect", spying_collect)
    monkeypatch.setattr(binning_mod, "_sorted_slices_histogram", spying_kernel)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        cube = _bin_routed(df, "driver", **kw)
    finally:
        spark.conf.set(key, old)

    assert batches and batches[0] >= 24, batches
    assert len(plans) == 1 and "Sort [" not in plans[0], plans
    assert 0 < len(kernel_input) <= min(binning_mod._driver_threads(), n)
    assert all(s.size for s in kernel_input)
    assert all(bool(np.all(s[:-1] <= s[1:])) for s in kernel_input)
    assert sum(s.size for s in kernel_input) == n
    np.testing.assert_array_equal(cube.data, want.astype(np.float32))


def test_concurrent_driver_combines_match_serial(spark, monkeypatch):
    """Two threads binning their own frames on the driver route at the same
    time must each get the cube a serial call gives: the dense path's
    buffers belong to one call at a time. A barrier after each call's
    socket collect holds both until both collects are done, so the
    sort and histogram phases overlap."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from sed_binning_spark.binning import binning as binning_mod

    kw = dict(bins=[90, 70], axes=["a", "b"],
              ranges=[(0.0, 20.0), (0.0, 6.0)])
    frames = [
        spark.range(n, numPartitions=6)
        .select((F.rand(seed) * 24 - 2).alias("a"),
                (F.rand(seed + 1) * 7).alias("b"))
        .cache()
        for n, seed in ((500_000, 41), (400_000, 43))
    ]
    _route(monkeypatch, "driver")
    try:
        for f in frames:
            f.count()
        serial = [bin_dataframe(f, **kw).data for f in frames]
        assert not np.array_equal(serial[0], serial[1])

        collect = binning_mod._collect
        kernel = binning_mod._sorted_slices_histogram
        held = threading.local()
        hits, events = [], []

        def collecting(sel):
            tbl = collect(sel)
            if not getattr(held, "done", False):
                held.done = True
                hits.append(sel)
                events.append("collected")
                barrier.wait()
            return tbl

        def histogram(slices, n_cells):
            events.append("kernel")
            return kernel(slices, n_cells)

        monkeypatch.setattr(binning_mod, "_collect", collecting)
        monkeypatch.setattr(binning_mod, "_sorted_slices_histogram", histogram)
        for _ in range(2):
            barrier = threading.Barrier(2, timeout=120)
            events.clear()
            with ThreadPoolExecutor(2) as ex:
                futs = [ex.submit(bin_dataframe, f, **kw) for f in frames]
                cubes = [fut.result().data for fut in futs]
            for got, want in zip(cubes, serial):
                np.testing.assert_array_equal(got, want)
            assert events[:2] == ["collected", "collected"], events
            assert events.count("kernel") == 2, events
        assert len(hits) == 4
    finally:
        for f in frames:
            f.unpersist()


def _routed_events(spark):
    """Events over three files with NaN and out-of-range rows on both
    axes, and their np.histogramdd oracle per file (int-bins semantics)."""
    import pandas as pd

    rng = np.random.default_rng(61)
    n = 6_000
    a = rng.uniform(-3, 23, n)
    b = rng.uniform(-1, 7, n)
    a[::97] = np.nan
    b[::89] = np.nan
    b[::83] = 1e9
    file_id = rng.integers(0, 3, n)
    pdf = pd.DataFrame({"a": a, "b": b, "file_id": file_id.astype("int64")})
    kw = dict(bins=[30, 17], axes=["a", "b"], ranges=[(0.0, 20.0), (0.0, 6.0)])
    per_file = np.stack([
        _np_hist(pdf[(pdf.file_id == f) & pdf.a.notna() & pdf.b.notna()],
                 kw["axes"], kw["bins"], kw["ranges"])
        for f in range(3)
    ], axis=-1)
    return spark.createDataFrame(pdf).repartition(4), kw, per_file


@pytest.mark.parametrize("source", ["socket"])
@pytest.mark.parametrize("route", ["driver", "shuffle", "shuffle_partitions"])
def test_every_route_matches_numpy_from_every_source(spark, monkeypatch, route, source):
    """Each route gives np.histogramdd's cube from the one hand-off
    source, the Arrow result socket."""
    from sed_binning_spark.binning import binning as binning_mod

    df, kw, per_file = _routed_events(spark)
    if route == "shuffle_partitions":
        kw["return_partitions"] = True
    else:
        _route(monkeypatch, route)
    cube = bin_dataframe(df, **kw)

    info = binning_mod.LAST_RUN_INFO
    assert info["strategy"] == route.split("_")[0]
    assert "small_collect_s" in info
    if route == "shuffle_partitions":
        assert cube.dims[-1] == "df_part"
        np.testing.assert_array_equal(cube.coords["df_part"], [0, 1, 2])
        want = per_file
    else:
        want = per_file.sum(axis=-1)
    np.testing.assert_array_equal(cube.data, want.astype(np.float32))
    assert 0 < cube.data.sum() < df.count()


@pytest.mark.parametrize("kind", ["uniform", "log", "duplicated", "two", "1e4"])
def test_count_le_matches_searchsorted(spark, kind):
    """The explicit-edge count equals np.searchsorted(side="right") on
    every value, one ulp either side of it, signed zeros, non-finite and
    out-of-range probes."""
    import math

    from pyspark.sql import functions as F

    from sed_binning_spark.binning.expressions import _count_le

    rng = np.random.default_rng(9)
    v = {
        "uniform": np.linspace(-3.0, 7.0, 51),
        "log": np.geomspace(1e-3, 1e3, 200),
        "duplicated": np.sort(np.r_[np.linspace(0.0, 1.0, 30), [0.5] * 7, [0.0] * 3, [1.0] * 2]),
        "two": np.array([1.0, 2.0]),
        "1e4": np.sort(rng.normal(size=10_000)),
    }[kind]
    probes = [v[0] - 1.0, v[-1] + 1.0, -1e300, 1e300, 0.0, -0.0, 5e-324,
              math.inf, -math.inf, math.nan]
    for e in v.tolist():
        probes += [e, math.nextafter(e, math.inf), math.nextafter(e, -math.inf)]
    probes = np.asarray(probes, dtype=float)
    # from Python rows: a pandas NaN would arrive as NULL
    df = spark.createDataFrame(list(enumerate(probes.tolist())), "i long, x double")
    got = (
        df.select("i", _count_le(F.col("x"), v).alias("c"))
        .toPandas().sort_values("i")["c"].to_numpy()
    )
    np.testing.assert_array_equal(got, np.searchsorted(v, probes, side="right"))


def test_explicit_edge_index_plans_no_python_stage(spark):
    """The explicit-edge index is one JVM expression at every edge count:
    no Python stage in a 201-edge normalization histogram or in binning
    over 200 non-uniform centers."""
    from pyspark.sql import functions as F

    from sed_binning_spark.binning.binning import (
        bin_index_columns,
        normalization_histogram_sparse_from_timed_dataframe,
    )

    df = spark.range(20_000).select((F.rand(5) * 120.0 - 10.0).alias("v"))
    centers = np.geomspace(1.0, 100.0, 200)
    norm = normalization_histogram_sparse_from_timed_dataframe(
        df, "v", np.linspace(0.0, 100.0, 201), 0.5,
    )
    _, _, _, exprs = bin_index_columns(df, [centers], ["v"])
    for q in (norm, df.select(*exprs), bin_dataframe_sparse(df, bins=[centers], axes=["v"])):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan

    x = df.toPandas().v.to_numpy()
    want, _ = np.histogram(x, bins=bin_centers_to_bin_edges(centers))
    np.testing.assert_array_equal(
        bin_dataframe(df, bins=[centers], axes=["v"]).data, want.astype(np.float32),
    )
