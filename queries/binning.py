"""Binning queries: sparse N-D histograms, explicit edges, per-partition
stacks, the diagnostics grid, the normalization histograms and the sink
round-trip. Oracles reuse the engine's bin-index SQL twins."""

from __future__ import annotations

import os
import tempfile

import numpy as np
from pyspark.sql import functions as F

from queries import query
from queries._common import _EV_SQL, _events
from sed_binning_spark.binning.binning import (
    bin_dataframe, bin_dataframe_sparse, normalization_histogram_sparse_from_timed_dataframe,
    normalization_histogram_sparse_from_timestamps,
)
from sed_binning_spark.binning.expressions import (
    bin_index_expr, bin_index_sql, bin_index_sql_edges,
)
from sed_binning_spark.binning.utils import bin_centers_to_bin_edges


def _binning_sql(nbins_ranges: list, group_names: list[str], src_sql: str = _EV_SQL) -> str:
    """Oracle for the sparse N-D binning queries: same bin-index arithmetic,
    NULL (out-of-range/NaN) rows dropped, grouped count."""
    exprs = []
    for (col, nbins, lo, hi), name in zip(nbins_ranges, group_names):
        exprs.append(f"{bin_index_sql(col, nbins, lo, hi)} AS {name}")
    names = ", ".join(group_names)
    notnull = " AND ".join(f"{n} IS NOT NULL" for n in group_names)
    return (
        f"SELECT {names}, count(*) AS cnt FROM "
        f"(SELECT {', '.join(exprs)} FROM ({src_sql})) WHERE {notnull} "
        f"GROUP BY {names}"
    )


# non-uniform explicit bin centers for the A3 path
_NU_CENTERS = np.array([10.0, 20.0, 50.0, 100.0, 200.0, 400.0])


# A2/A4/A5: uniform int-bins N-D histograms (sparse occupied cells)
@query("binning_1d", oracle=lambda: _binning_sql([("t", 1000, 60000.0, 120000.0)], ["b0"]))
def _q_binning_1d(spark, sf):
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[1000], axes=["t"], ranges=[(60000.0, 120000.0)],
        count_column="cnt",
    ).select(F.col("t").alias("b0"), "cnt")


# A11 bin centers for the normalized-spectrum query (shared with its oracle)
_NORM_CENTERS = np.linspace(0.0, 2048.0, 100, endpoint=False)
_NORM_EDGES = bin_centers_to_bin_edges(_NORM_CENTERS)
# A10 timestamp-histogram bin centers (norm_hists)
_TS_CENTERS = np.linspace(0.0, 2048.0, 50, endpoint=False)


# A11 + J6: binned counts / per-bin acquisition time. The counts
# side uses the uniform-arithmetic index twin (the engine routes
# uniform explicit centers onto the O(1) arithmetic path), the time
# side the explicit-edges twin — both from the same plan-time edges.
@query("norm_spectrum", oracle=lambda: (
    f"SELECT c.b0 AS b0, round(c.cnt / t.time, 6) AS rate FROM "
    f"(SELECT b0, count(*) AS cnt FROM (SELECT "
    f"{bin_index_sql('X', 100, float(_NORM_EDGES[0]), float(_NORM_EDGES[-1]), half_bin_shift=False)} "
    f"AS b0 FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0) c "
    f"JOIN (SELECT bin, count(*) * 1.0e-3 AS time FROM (SELECT "
    f"{bin_index_sql_edges('X', _NORM_EDGES)} AS bin FROM ({_EV_SQL})) "
    f"WHERE bin IS NOT NULL GROUP BY bin) t ON t.bin = c.b0"
))
def _q_norm_spectrum(spark, sf):
    """A11 + J6: acquisition-time-normalized spectrum — binned counts
    divided per-bin by the timed-dataframe normalization histogram (the
    sparse twin of SedProcessor.compute(normalize_to_acquisition_time=axis),
    processor.py:437-480; reference sed/core/processor.py:2260-2293)."""
    ev = _events(spark, sf)
    counts = bin_dataframe_sparse(
        ev, bins=[_NORM_CENTERS], axes=["X"], count_column="cnt",
    )
    hist = normalization_histogram_sparse_from_timed_dataframe(
        ev, "X", _NORM_CENTERS, 0.001,
    )
    return (
        counts.join(hist, counts["X"] == hist["bin"])
        .select(
            F.col("bin").alias("b0"),
            F.round(F.col("cnt") / F.col("time"), 6).alias("rate"),
        )
    )


@query("binning_4d", oracle=lambda: _binning_sql(
    [("X", 20, 0.0, 2048.0), ("Y", 20, 0.0, 2048.0),
     ("t", 20, 60000.0, 120000.0), ("ADC", 20, 2000.0, 20000.0)],
    ["b0", "b1", "b2", "b3"],
))
def _q_binning_4d(spark, sf):
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[20, 20, 20, 20], axes=["X", "Y", "t", "ADC"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0), (2000.0, 20000.0)],
        count_column="cnt",
    ).select(F.col("X").alias("b0"), F.col("Y").alias("b1"),
             F.col("t").alias("b2"), F.col("ADC").alias("b3"), "cnt")


@query("binning_2d3d", oracle=lambda: (
    "SELECT '2d' AS dims, b0, b1, CAST(NULL AS BIGINT) AS b2, cnt FROM ("
    + _binning_sql(
        [("X", 40, 0.0, 2048.0), ("Y", 40, 0.0, 2048.0)], ["b0", "b1"],
    )
    + ") UNION ALL SELECT '3d' AS dims, b0, b1, b2, cnt FROM ("
    + _binning_sql(
        [("X", 15, 0.0, 2048.0), ("Y", 15, 0.0, 2048.0),
         ("t", 15, 60000.0, 120000.0)], ["b0", "b1", "b2"],
    )
    + ")"
))
def _q_binning_2d3d(spark, sf):
    """A2/A4 mid-dimensional coverage: a 2-D and a 3-D sparse histogram of
    the same frame, unioned with a dims tag (the 2-D half carries a NULL
    b2) so both plans are cross-engine-checked in one oracle row."""
    ev = _events(spark, sf)
    b2 = bin_dataframe_sparse(
        ev, bins=[40, 40], axes=["X", "Y"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0)], count_column="cnt",
    ).select(
        F.lit("2d").alias("dims"), F.col("X").alias("b0"),
        F.col("Y").alias("b1"), F.lit(None).cast("bigint").alias("b2"), "cnt",
    )
    b3 = bin_dataframe_sparse(
        ev, bins=[15, 15, 15], axes=["X", "Y", "t"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0)],
        count_column="cnt",
    ).select(
        F.lit("3d").alias("dims"), F.col("X").alias("b0"),
        F.col("Y").alias("b1"), F.col("t").alias("b2"), "cnt",
    )
    return b2.unionByName(b3)


@query("diag_grid", oracle=lambda: " UNION ALL ".join(
    f"SELECT '{ax}' AS axis, b0, count(*) AS cnt FROM (SELECT "
    f"{bin_index_sql(ax, 40, lo, hi, half_bin_shift=False)} AS b0 "
    f"FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0"
    for ax, lo, hi in [("X", 0.0, 2048.0), ("Y", 0.0, 2048.0),
                       ("t", 60000.0, 120000.0), ("ADC", 2000.0, 20000.0)]
))
def _q_diag_grid(spark, sf):
    """A12: the diagnostics histogram grid in sparse form — every axis
    binned in ONE scan via explode (event_histogram_grid_sparse)."""
    from sed_binning_spark.diagnostics import event_histogram_grid_sparse

    return event_histogram_grid_sparse(
        _events(spark, sf), axes=["X", "Y", "t", "ADC"], bins=40,
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0),
                (2000.0, 20000.0)],
    )


@query("binning_edges", oracle=lambda: (
    f"SELECT b0, count(*) AS cnt FROM (SELECT "
    f"{bin_index_sql_edges('value', bin_centers_to_bin_edges(_NU_CENTERS))} AS b0 FROM ({_EV_SQL}) "
    f"WHERE ADC > 5000.0 AND ADC < 15000.0) "
    f"WHERE b0 IS NOT NULL GROUP BY b0"
))
def _q_binning_edges(spark, sf):
    """A3 + P3 merged: explicit non-uniform bin edges over a pre-binning
    strict-open-interval filter chain."""
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[_NU_CENTERS], axes=["value"], count_column="cnt",
        filters=[{"col": "ADC", "lower_bound": 5000.0, "upper_bound": 15000.0}],
    ).select(F.col("value").alias("b0"), "cnt")


# the sink round-trip result must equal the histogram the writers
# were handed — the oracle is the plain binning SQL
@query("sink_roundtrip", oracle=lambda: (
    f"SELECT b0, b1, count(*) AS cnt FROM (SELECT "
    f"{bin_index_sql('X', 30, 0.0, 2048.0)} AS b0, "
    f"{bin_index_sql('Y', 30, 0.0, 2048.0)} AS b1 "
    f"FROM ({_EV_SQL})) "
    f"WHERE b0 IS NOT NULL AND b1 IS NOT NULL GROUP BY b0, b1"
))
def _q_sink_roundtrip(spark, sf):
    """K1 + K2 + K3 + K4: bin a 2-D cube, write it through the extension
    dispatcher with the built-in TIFF, HDF5, and NeXus writers, read all
    three back, and return the HDF5 round-trip as occupied cells — gated
    against the binning oracle, so any writer/reader corruption of values
    or axis order turns the row red. The TIFF payload (values only,
    ImageJ axis order) and the NXdata signal block are cross-checked
    in-query against the HDF5 round-trip."""
    import hashlib

    from sed_binning_spark.io.dispatch import save
    from sed_binning_spark.io.hdf5 import load_h5
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.nexus import _write_basic_nxmpes
    from sed_binning_spark.io.tiff import _imagej_axis_order, load_tiff

    # float32 is the sinks' native cube dtype; counts stay exact below
    # 2^24 per cell, far above any gate sf for this 30x30 grid
    cube = bin_dataframe(
        _events(spark, sf), bins=[30, 30], axes=["X", "Y"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0)],
    )
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"sed_binning_spark_sink_{tag}_{os.getpid()}",
    )
    paths = [base + ".h5", base + ".tiff", base + ".nxs"]
    try:
        save(cube, paths[0])
        save(cube, paths[1])
        # force the structural fallback writer: with pynxtools importable
        # the dispatcher would route to its DataConverter, whose layout
        # this read-back does not (and should not) depend on
        _write_basic_nxmpes(cube, paths[2], "NXmpes")
        back = load_h5(paths[0])
        tif = load_tiff(paths[1])
        want_tif = np.transpose(
            back.data, _imagej_axis_order(back.dims),
        ).astype(np.float32)
        if not np.array_equal(tif.reshape(want_tif.shape), want_tif):
            raise ValueError("TIFF round-trip diverged from the HDF5 round-trip")
        with H5File(paths[2]) as f:
            nx = f.read("/entry/data/data")
        if not np.array_equal(np.asarray(nx), back.data):
            raise ValueError("NeXus round-trip diverged from the HDF5 round-trip")
    finally:
        for p in paths:
            try:
                os.remove(p)
            except OSError:
                pass
    ii, jj = np.nonzero(back.data)
    rows = [(int(i), int(j), int(back.data[i, j])) for i, j in zip(ii, jj)]
    return spark.createDataFrame(rows, "b0 int, b1 int, cnt bigint")


# A8: per-partition histogram stack
@query("binning_partitions", oracle=lambda: (
    f"SELECT b0, file_id, count(*) AS cnt FROM (SELECT "
    f"{bin_index_sql('t', 100, 60000.0, 120000.0)} AS b0, file_id "
    f"FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0, file_id"
))
def _q_binning_partitions(spark, sf):
    ev = _events(spark, sf)
    idx = bin_index_expr("t", 100, 60000.0, 120000.0).alias("b0")
    return (
        ev.select(idx, "file_id").dropna()
        .groupBy("b0", "file_id").agg(F.count(F.lit(1)).alias("cnt"))
    )


@query("norm_hists", oracle=lambda: (
    f"SELECT 'timed' AS src, bin, count(*) * 1.0e-3 AS time FROM (SELECT "
    f"{bin_index_sql_edges('X', _NORM_EDGES)} AS bin FROM ({_EV_SQL})) "
    f"WHERE bin IS NOT NULL GROUP BY bin "
    f"UNION ALL "
    f"SELECT 'timestamps' AS src, bin, round(sum(dt), 6) AS time FROM (SELECT "
    f"{bin_index_sql_edges('X', bin_centers_to_bin_edges(_TS_CENTERS))} AS bin, "
    f"ts_sec - lag(ts_sec) OVER (ORDER BY file_id, row_id) AS dt "
    f"FROM ({_EV_SQL})) WHERE bin IS NOT NULL AND dt IS NOT NULL GROUP BY bin"
))
def _q_norm_hists(spark, sf):
    """A9 + A10 in one row (merged to free a slot for bias_normspec): the
    timed-dataframe and timestamp-difference normalization histograms,
    union-labeled by source."""
    timed = normalization_histogram_sparse_from_timed_dataframe(
        _events(spark, sf), "X", _NORM_CENTERS, 0.001,
    ).select(F.lit("timed").alias("src"), "bin", "time")
    ts = normalization_histogram_sparse_from_timestamps(
        _events(spark, sf), "X", _TS_CENTERS, "ts_sec",
    ).select(
        F.lit("timestamps").alias("src"), "bin",
        F.round("time", 6).alias("time"),
    )
    return timed.unionByName(ts)
