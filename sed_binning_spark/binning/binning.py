"""Distributed N-D histogramming ("binning") — the engine's core aggregation.

The reference orchestrates per-partition Numba histograms and tree-combines
the partials on the driver (sed/binning/binning.py:204-437). On Spark the
whole thing is ONE declarative aggregation::

    df.select(bin-index exprs).groupBy(idx_0..idx_{D-1}).count()

Catalyst/Tungsten give the per-partition partial aggregation (the analogue of
the reference's per-partition kernels), the shuffle-combine (the analogue of
its tree-sum), whole-stage codegen on the index arithmetic, and AQE-sized
shuffles — so the same plan runs unchanged from 6k rows to 100 TB. Only the
occupied cells (<= prod(bins) rows, small by construction) ever reach the
driver, where they are scattered into the dense float32 cube the reference
API promises.
"""

from __future__ import annotations

import ctypes
import mmap
import threading
import time
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sed_binning_spark.binning.expressions import bin_index_expr, bin_index_expr_edges
from sed_binning_spark.binning.utils import (
    bin_centers_to_bin_edges,
    simplify_binning_arguments,
)
from sed_binning_spark.cube import Cube

_IDX_PREFIX = "__bin_idx_"

# Dense-regime routing (see _choose_combine): the driver-combine path
# collects `rows` raw bin indices (4 bytes each as int32) and holds them
# twice at its peak, as the Arrow table and as its sorted copy, so the rows
# budget caps each at ~1 GB; above it the groupBy shuffle (whose collect is
# bounded by prod(bins) instead) is the only safe plan. The dedup limit is the
# break-even shuffle reduction factor: when a groupBy would shrink the data
# >32x, shuffling first is cheaper than shipping near-raw indices.
_DENSE_ROWS_BUDGET = 250_000_000
_DENSE_DEDUP_LIMIT = 32

# Phase timings (seconds) of the most recent bin_dataframe call, for
# benchmark/diagnostic reporting: which physical plan ran and where the
# wall-clock went (routing count / spark job / driver combine). Overwritten
# per call; not thread-safe by design (diagnostics only).
LAST_RUN_INFO: dict = {}


def _axis_coords(bins, axes, ranges) -> dict[str, np.ndarray]:
    """Bin-center coordinate axes for the output cube.

    Int-bins path: centers are ``linspace(lo, hi, n, endpoint=False)``
    (binning.py:304-317 in the reference — the given range denotes first/last
    bin centers, paired with the half-bin edge shift in the index expr).
    Array path: the given arrays ARE the centers.
    """
    if isinstance(bins[0], np.ndarray):
        return {ax: np.asarray(b, dtype=float) for ax, b in zip(axes, bins)}
    return {
        ax: np.linspace(r[0], r[1], n, endpoint=False)
        for ax, r, n in zip(axes, ranges, bins)
    }


def bin_index_columns(
    df: DataFrame,
    bins,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
) -> tuple[DataFrame, list[str], dict[str, np.ndarray], list]:
    """Build the bin-index column expressions for the requested axes.

    Returns (df, index column names, coordinate axes, index exprs). Rows
    whose value is out of range / NaN / NULL get a NULL index (dropped by the
    aggregation).
    """
    bins, axes, ranges = simplify_binning_arguments(bins, axes, ranges)

    # Binning requires numeric columns (reference rejects object dtypes,
    # sed/binning/binning.py:174-180).
    numeric = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}
    for ax in axes:
        if ax not in df.columns:
            raise KeyError(f"Axis column {ax!r} not in dataframe columns {df.columns}")
        dtype = dict(df.dtypes)[ax]
        if dtype.split("(")[0] not in numeric:
            raise ValueError(
                f"Binning requires numeric columns; column {ax!r} has type {dtype}.",
            )

    coords = _axis_coords(bins, axes, ranges)
    idx_cols: list[str] = []
    exprs = []
    for d, ax in enumerate(axes):
        name = f"{_IDX_PREFIX}{d}"
        if isinstance(bins[d], np.ndarray):
            edges = bin_centers_to_bin_edges(bins[d])
            widths = np.diff(edges)
            # machine-epsilon uniformity check: the O(1) arithmetic index and
            # the exact searchsorted path are only provably identical when the
            # widths agree to FP noise; near-uniform-but-not (rtol ~1e-5, the
            # old np.allclose default) must take the exact path
            if np.allclose(widths, widths[0], rtol=1e-12, atol=0.0):
                # uniform centers -> O(1) arithmetic index instead of the
                # O(log n_edges)-per-row binary search; same
                # inclusive-last-edge / NaN-reject semantics
                expr = bin_index_expr(
                    ax, edges.size - 1, float(edges[0]), float(edges[-1]),
                    half_bin_shift=False,
                )
            else:
                expr = bin_index_expr_edges(ax, edges)
        else:
            lo, hi = ranges[d]
            expr = bin_index_expr(ax, bins[d], lo, hi, half_bin_shift=True)
        exprs.append(expr.alias(name))
        idx_cols.append(name)
    return df, idx_cols, coords, exprs


def bin_dataframe(
    df: DataFrame,
    bins=100,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    jitter=None,
    filters: Sequence[dict] | None = None,
    return_partitions: bool = False,
    partition_column: str = "file_id",
    partition_values: Sequence[int] | None = None,
    jitter_seed: int | None = None,
    max_dense_cells: int = 200_000_000,
) -> Cube:
    """N-dimensional histogram of the dataframe -> dense float32 Cube.

    Spark-first replacement for bin_dataframe (sed/binning/binning.py:204-437):
    one groupBy aggregation instead of a hand-scheduled partition loop. The
    reference's hist_mode/mode/n_cores/pbar execution knobs are obsolete
    (Catalyst owns physical execution) and intentionally absent.

    A cheap row estimate (:func:`_choose_combine`) picks one of two routes:

    - shuffle: groupBy(flat index).count(), then the occupied cells reach
      the driver and are scattered into the cube (the 100 TB plan: driver
      traffic bounded by prod(bins) regardless of row count). Taken when
      no cheap estimate exists, and always with ``return_partitions``;
    - driver: no shuffle, no aggregation. Executors hand the raw flat
      indices to the driver, which sorts one slice of them per driver
      thread, and one threaded cell-range kernel histograms the sorted
      slices — the reference's dense kernel + tree-sum shape
      (sed/binning/binning.py:374-407, sed/binning/numba_bin.py:16-71),
      and the right plan in the dense regime (occupied ~ rows), where a
      shuffle dedups almost nothing.

    Both routes collect their result over PySpark's Arrow result socket
    (:func:`_collect`); nothing is written to storage. A result larger
    than ``spark.driver.maxResultSize`` fails with Spark's own error.

    Args:
        df: event dataframe.
        bins/axes/ranges: flexible binning spec (ints+ranges = ranges are
            first/last bin CENTERS; arrays = explicit bin centers; tuples =
            (start, stop, n); dict = {axis: spec}).
        jitter: None, or sequence of column names / dict {col: {amplitude,
            mode}} — adds binsize-scaled noise to the binned copy of those
            axes (bin_partition's inline jitter, binning.py:152-172).
        filters: optional pre-binning filters, each
            {col, lower_bound, upper_bound} with OPEN interval semantics
            (sed/core/processor.py:2218-2234).
        return_partitions: append a trailing ``df_part`` axis keyed by
            ``partition_column`` (A8; binning.py:413-421 — used for bias-series
            energy calibration).
        partition_values: the full set of ``partition_column`` values, when
            the caller already knows it (e.g. a loader's file list). Skips
            the distinct() discovery job — which, over a Python-stage
            loader plan (mapInPandas HDF5 extraction), cannot be
            column-pruned and would re-decode every file once more.
        jitter_seed: seed for reproducible jitter (the reference is unseeded;
            tests pin this).
        max_dense_cells: driver budget for the dense cube; a bin spec whose
            prod(bins) exceeds it raises with a pointer to
            :func:`bin_dataframe_sparse` instead of OOM-ing the driver.

    Returns:
        Cube with float32 counts and bin-center coordinate axes.
    """
    bins, axes, ranges = simplify_binning_arguments(bins, axes, ranges)

    df = _apply_prebinning_filters(df, filters)

    if jitter is not None:
        df = _apply_binning_jitter(df, jitter, bins, axes, ranges, seed=jitter_seed)

    df, idx_cols, coords, exprs = bin_index_columns(df, bins, axes, ranges)

    # Driver-budget guard: a dense cube materializes prod(bins) float32
    # cells on the driver no matter how sparse the data is (the reference
    # documents <= ~1e8 cells as the sane ceiling). Abort with the fix
    # spelled out rather than OOM-ing mid-collect; bin_dataframe_sparse is
    # the distributed form that never densifies.
    n_cells = int(np.prod([coords[ax].size for ax in axes]))
    if n_cells > max_dense_cells:
        raise ValueError(
            f"dense cube of {'x'.join(str(coords[ax].size) for ax in axes)} "
            f"= {n_cells} cells exceeds the driver budget "
            f"(max_dense_cells={max_dense_cells}, ~{4 * n_cells / 1e9:.1f} GB "
            "float32). Use bin_dataframe_sparse() for a distributed sparse "
            "result, or raise max_dense_cells if the driver has the memory.",
        )

    # ONE flat (row-major) bin index instead of D grouping columns: the
    # shuffle and the Arrow collect carry a single int64 — at 1e8 events x
    # 100^4 bins that's ~60M occupied cells, so halving the shuffled bytes
    # is the dominant cost lever. NULL in any per-axis index propagates
    # through the arithmetic, keeping the NaN/out-of-range reject semantics.
    shape = [coords[ax].size for ax in axes]
    flat = exprs[0]
    for d in range(1, len(exprs)):
        flat = flat * F.lit(shape[d]) + exprs[d]
    group_cols = [flat.alias("__flat")]
    out_names = ["__flat"]
    dims = list(axes)
    n_flat = int(np.prod(shape))
    parts = None
    if return_partitions:
        if partition_column not in df.columns:
            raise KeyError(
                f"return_partitions needs a {partition_column!r} column in the dataframe",
            )
        group_cols.append(F.col(partition_column).alias("__df_part"))
        out_names.append("__df_part")
        # the df_part axis covers EVERY source partition, not just occupied
        # ones: a file whose events all fall out of range must still yield a
        # zero histogram slice, or positional pairing downstream (e.g.
        # bias-series traces vs the biases array) silently misaligns. Also
        # re-check the driver budget against the REAL allocation — the
        # prod(bins) guard above doesn't know the partition multiplier.
        if partition_values is not None:
            parts = np.unique(np.asarray(list(partition_values), dtype=np.int64))
        else:
            all_parts = (
                df.select(partition_column).distinct().toPandas()[partition_column].to_numpy()
            )
            # a NULL partition value would astype to INT_MIN without
            # raising — a bogus all-zero df_part coordinate while the
            # NULL-partition events silently vanish from the histogram
            if any(v is None or (isinstance(v, float) and np.isnan(v)) for v in all_parts):
                raise ValueError(
                    f"return_partitions: column {partition_column!r} "
                    "contains NULL values — every event must belong to a "
                    "partition",
                )
            parts = np.unique(all_parts.astype(np.int64))
        if n_flat * len(parts) > max_dense_cells:
            raise ValueError(
                f"dense per-partition cube of {n_flat} cells x {len(parts)} "
                f"partitions = {n_flat * len(parts)} values exceeds the "
                f"driver budget (max_dense_cells={max_dense_cells}). Reduce "
                "bins or use bin_dataframe_sparse().",
            )

    # Dense-regime short-circuit: raw indices histogrammed on the driver
    # without a shuffle (the reference's own physical shape). Only for the
    # plain cube — the per-partition-stacked cube (A8) keeps the groupBy,
    # whose output is tiny by construction.
    LAST_RUN_INFO.clear()
    t0 = time.perf_counter()
    strategy = "shuffle" if return_partitions else _choose_combine(df, n_flat)
    LAST_RUN_INFO.update(strategy=strategy, route_s=round(time.perf_counter() - t0, 3))
    if strategy == "driver":
        full = _dense_driver_histogram(df, flat, n_flat)
        return Cube(full.reshape(tuple(shape)), coords, dims)

    # Shuffle path: groupBy(flat).count() — partial agg per partition, one
    # int64 key through the shuffle, then each collected Arrow batch of
    # occupied cells is scattered into the cube on a driver thread (groupBy
    # keys are unique, so no two batches write the same cell).
    # Out-of-range/NaN rows carry a NULL index; they are dropped as the
    # single NULL GROUP after aggregation rather than with a pre-agg filter,
    # which would duplicate the flat-index expression tree into the filter
    # condition and push the fused stage over the codegen method limit
    # (interpreted fallback: measured 88 s vs 2 s on the workflow chain).
    # The guard must reference the aggregated count: a bare
    # isnotnull(__flat) — dropna(subset) included — is a deterministic
    # predicate over a grouping column, so Catalyst PUSHES IT BELOW the
    # aggregate and re-inlines the tree anyway (measured 0.97 s vs 0.24 s
    # on the sf0.1 workflow chain). `count < 0` is never true but is not
    # statically foldable and makes the disjunction non-splittable, pinning
    # the filter above the aggregate, where it scans only occupied cells.
    # Drop only NULL BIN groups here: a NULL __df_part group must survive
    # to the check below (dropping it too would silently vanish every
    # NULL-partition event from the per-partition cube)
    agg_df = (
        df.select(*group_cols)
        .groupBy(*[F.col(n) for n in out_names])
        .count()
        .where(F.col("__flat").isNotNull() | (F.col("count") < 0))
    )
    if return_partitions:
        dims.append("df_part")
        coords = {**coords, "df_part": parts}
        full = _madv_hugepage(np.zeros((n_flat, len(parts)), dtype=np.float32))
    else:
        full = _madv_hugepage(np.zeros(n_flat, dtype=np.float32))

    def _scatter(tbl) -> None:
        flat_idx = tbl.column("__flat").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        counts = tbl.column("count").to_numpy(zero_copy_only=False).astype(np.float32)
        if not return_partitions:
            full[flat_idx] = counts
            return
        part_col = tbl.column("__df_part")
        # NULL partition values reach here regardless of how the partition
        # list was obtained — every event must belong to a partition, or
        # it would silently vanish from the per-partition cube
        if part_col.null_count:
            raise ValueError(
                f"return_partitions: column {partition_column!r} contains "
                "NULL values — every event must belong to a partition",
            )
        part_vals = part_col.to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False,
        )
        # caller-declared partition list must actually cover the data, or
        # the searchsorted scatter below would silently misplace counts
        if partition_values is not None and part_vals.size:
            unseen = np.setdiff1d(np.unique(part_vals), parts)
            if unseen.size:
                raise ValueError(
                    f"partition_values is missing {partition_column} values "
                    f"present in the data: {unseen[:10].tolist()}",
                )
        full[flat_idx, np.searchsorted(parts, part_vals)] = counts

    t1 = time.perf_counter()
    batches = _collect(agg_df).to_batches()
    with ThreadPoolExecutor(_driver_threads()) as ex:
        list(ex.map(_scatter, batches))
    LAST_RUN_INFO["agg_collect_s"] = round(time.perf_counter() - t1, 3)
    return Cube(full.reshape(tuple(shape) + full.shape[1:]), coords, dims)


def _choose_combine(df: DataFrame, n_cells: int) -> str:
    """Pick the physical combine strategy for the dense cube: ``"driver"``
    or ``"shuffle"``.

    The groupBy shuffle earns its cost by deduplication: its collect is
    bounded by prod(bins) no matter how many rows exist, so it is the only
    safe plan at scale. But in the dense regime (rows comparable to cells —
    the reference benchmark's 1e8 rows x 100^4 bins) partial aggregation
    reduces almost nothing and the shuffle + wide final agg is pure overhead;
    collecting the raw indices for one driver-side histogram is strictly
    less data movement. The row count used for routing is one cheap job
    (Catalyst prunes every projected column under a count).
    """
    rows = _cheap_row_estimate(df, n_cells)
    if rows is not None and rows <= _DENSE_ROWS_BUDGET and rows < n_cells * _DENSE_DEDUP_LIMIT:
        return "driver"
    return "shuffle"


# Below this estimated input size the shuffle plan is trivially cheap, so
# the routing count() (a pruned re-scan, ~0.2 s of fixed job overhead at toy
# scale) costs more than any routing win — skip it. 256 MiB is ~2 orders of
# magnitude under where the dense-driver path starts mattering. A cell
# space of at least _ROUTE_PROBE_MIN_CELLS still pays the probe (see
# _cheap_row_estimate).
_ROUTE_PROBE_MIN_BYTES = 256 << 20
_ROUTE_PROBE_MIN_CELLS = 4_000_000

# memoized routing counts keyed by (plan semantic hash, estimated input
# bytes): workflow-style callers re-bin the same extraction chain
# repeatedly (1-D preview, then 4-D). The size component invalidates the
# entry when the same path is re-read after new part-files land (a fresh
# read re-lists the directory, so sizeInBytes grows while the semantic
# hash stays equal — a stale small count must not route a grown input onto
# the driver-memory-bounded dense path) and de-risks 32-bit hash collisions.
# Bounded to the newest _ROUTE_COUNT_MAX entries (oldest out); every read and
# write holds the lock, since driver threads route concurrently.
_ROUTE_COUNT_CACHE: dict[tuple[int, int], int] = {}
_ROUTE_COUNT_LOCK = threading.Lock()
_ROUTE_COUNT_MAX = 256


def _cheap_row_estimate(df: DataFrame, n_cells: int = 0) -> int | None:
    """Row count for routing, but only when it is cheap to obtain.

    Catalyst statistics answer without a job only when the plan's top
    node carries a rowCount, e.g. a materialized cache read as it is (its
    ``InMemoryRelation``). Spark's size-only statistics visitor drops
    rowCount at any Project or Filter, so a projected or filtered cache
    pays the memoized count job below when it passes the size/cells gate,
    and returns None under it. A count() over columnar sources /
    expression pipelines prunes every column and costs one metadata-ish
    scan. The count's own plan decides: Catalyst prunes a pandas_udf whose
    outputs only feed projections (apply_dfield's chain) out of it. A count
    plan that keeps a Python node (a filter on a UDF output, a mapInPandas
    loader) would re-run the extraction, so routing returns None there and
    the caller takes the always-safe shuffle plan, whose collect is
    bounded by the cube's cell count. Tiny inputs
    (estimated bytes < _ROUTE_PROBE_MIN_BYTES) also return None — at that
    size the probe job itself dominates — UNLESS the bin spec's cell count
    is itself large (>= _ROUTE_PROBE_MIN_CELLS): there the routing decision is
    worth one memoized pruned-count job, because a small input over a huge
    cell space belongs on the small-rows driver route (sparse scatter)
    rather than a shuffle + dense-cube pass (measured sf0.1 workflow_4d:
    ~1.8 s shuffle vs <1 s routed)."""
    try:
        qe = df._jdf.queryExecution()
        spark = df.sparkSession
        # stats rowCount is EXACT only without the cost-based optimizer
        # (leaf metadata / materialized cache counts); under CBO it is a
        # selectivity estimate, and an underestimate here would route a
        # huge input onto the driver-memory-bounded dense path
        cbo = spark.conf.get("spark.sql.cbo.enabled", "false") == "true"
        stats = qe.optimizedPlan().stats()
        if not cbo:
            stats_rows = stats.rowCount()
            if stats_rows.isDefined():
                got = stats_rows.get()  # Py4J may hand back int or scala BigInt
                return int(got if isinstance(got, int) else got.longValue())
        # sizeInBytes always has a value (file-size-derived for scans,
        # Long.MaxValue when unknown — which safely fails this tiny-gate)
        size = stats.sizeInBytes()
        size = int(size if isinstance(size, int) else size.longValue())
        if size < _ROUTE_PROBE_MIN_BYTES and n_cells < _ROUTE_PROBE_MIN_CELLS:
            return None
        # Python stages only reliably show in the PHYSICAL plan (a
        # pandas_udf expression prints as its function name in the logical
        # plan, with no recognizable marker)
        plan_str = df.groupBy().count()._jdf.queryExecution().sparkPlan().toString()
    except Exception:
        return None
    python_nodes = ("MapInPandas", "MapInArrow", "PythonUDF", "FlatMapGroupsInPandas",
                    "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow")
    if any(tok in plan_str for tok in python_nodes):
        return None
    try:
        key = (df.semanticHash(), size)
    except Exception:
        key = None
    if key is None:
        return df.count()
    with _ROUTE_COUNT_LOCK:
        rows = _ROUTE_COUNT_CACHE.get(key)
    if rows is None:
        rows = df.count()
        with _ROUTE_COUNT_LOCK:
            _ROUTE_COUNT_CACHE[key] = rows
            if len(_ROUTE_COUNT_CACHE) > _ROUTE_COUNT_MAX:
                del _ROUTE_COUNT_CACHE[next(iter(_ROUTE_COUNT_CACHE))]
    return rows


def _collect(sel: DataFrame):
    """The one hand-off of both routes: ``sel``'s result as an Arrow table,
    collected over PySpark's Arrow result socket, with the collect's wall
    time in ``LAST_RUN_INFO["small_collect_s"]``.

    Nothing goes through storage. Socket against an uncompressed parquet
    spill read back one file per driver thread, hand-off plus per-part
    sort (cached rows, best of 4, 4-core host): 0.15 vs 0.53 s at 1e6
    rows, 0.31 vs 0.57 s at 4.2e6, 0.82 vs 1.28 s at 1.68e7, 1.47 vs
    1.85 s at 3.36e7, and 4.65 vs 6.44 s on 1e8 uncached rows. Each route
    bounds what it collects: the driver route at ``_DENSE_ROWS_BUDGET``
    rows, the shuffle route at ``max_dense_cells`` occupied cells. A
    result over ``spark.driver.maxResultSize`` fails the job with Spark's
    own error; no partial cube is ever returned."""
    t0 = time.perf_counter()
    tbl = sel.toArrow()
    LAST_RUN_INFO["small_collect_s"] = round(time.perf_counter() - t0, 3)
    return tbl


def _dense_driver_histogram(df: DataFrame, flat, n_cells: int) -> np.ndarray:
    """Dense-regime histogram: raw indices + one driver kernel.

    In the dense regime a groupBy dedups almost nothing, so the cheapest
    correct plan is to skip shuffle AND aggregation: executors compute the
    flat bin index (pure codegen, no sort), and the driver histograms the
    sorted slices of :func:`_sorted_cells` with
    :func:`_sorted_slices_histogram` — the flat-index accumulation of the
    reference kernel (sed/binning/numba_bin.py:16-71) with the driver as
    the tree root (sed/binning/binning.py:374-407). _choose_combine bounds
    rows (<= 2.5e8 -> <= 1 GB of int32 indices) before selecting this
    path.

    NULL (out-of-range/NaN) indices are mapped to a sentinel cell
    ``n_cells`` via one coalesce node, which the kernel never counts: a
    pre-agg FILTER would inline the whole flat-index expression tree into
    its condition, and a stage carrying the tree twice blows the
    whole-stage-codegen method limit (interpreted fallback: measured 92 s
    vs 6 s on the 6-step workflow chain). Sentinel instead of nullable also
    keeps the column mask-free, so every Arrow chunk converts to numpy as
    a straight buffer view.
    """
    cell_type = "int" if n_cells + 1 <= np.iinfo(np.int32).max else "bigint"
    sel = df.select(F.coalesce(flat, F.lit(n_cells)).cast(cell_type).alias("cell"))
    slices = _sorted_cells(sel)
    t1 = time.perf_counter()
    hist = _sorted_slices_histogram(slices, n_cells)
    LAST_RUN_INFO["bincount_s"] = round(time.perf_counter() - t1, 3)
    return hist


# MADV_HUGEPAGE on big driver-side buffers: THP is madvise-only in this
# guest, and the first write to a madvise'd region faults 2 MB at a time
# instead of 4 KB. Measured on perfbench sed_workflow's bin_4d shape (4-core
# host; 4.2e6 sorted indices scattered into the 400 MB float32 cube of
# 100^4 cells): the kernel alone took 0.11-0.22 s with it and 0.42-0.61 s
# without (18 of 18 calls in 6 processes a side; minor faults ~1.1e3 vs
# ~1.95e5); one traced pair (seed 1203) read binning.combine_s 0.22 ->
# 0.58 s and driver.sys_s 0.86 -> 1.31 s without it. Purely advisory — any
# failure is ignored.
_MADV_HUGEPAGE = 14
_MADV_MIN_BYTES = 64 << 20


def _madv_hugepage(arr: np.ndarray) -> np.ndarray:
    if arr.nbytes < _MADV_MIN_BYTES:
        return arr
    addr = arr.ctypes.data
    aligned = (addr + (1 << 21) - 1) & ~((1 << 21) - 1)
    length = arr.nbytes - (aligned - addr)
    if length > 0:
        _libc_call("madvise", ctypes.c_void_p(aligned), ctypes.c_size_t(length),
                   _MADV_HUGEPAGE)
    return arr


def _libc_call(name: str, *args) -> None:
    """Call a C library function for its side effect alone (memory advice,
    heap trim). Its result is ignored, and so is a libc without it: both
    calls only advise the allocator or the kernel."""
    try:
        getattr(ctypes.CDLL(None), name)(*args)
    except (OSError, AttributeError):
        pass


def _sorted_cells(sel: DataFrame) -> list[np.ndarray]:
    """The driver route's hand-off: ``sel``'s ``cell`` column, collected
    (:func:`_collect`) and returned as one sorted slice per driver thread.

    One slice per thread, not one per Arrow batch: at 1e8 rows the socket
    delivers thousands of batches, and with each batch its own sorted
    slice the kernel took 8.0-9.3 s instead of 1.7-2.5 s (4-core host).
    So the column is copied into one contiguous array, the Arrow table is
    dropped, and the copy is cut into ``_driver_threads()`` views, each
    sorted in place on its own thread (``ndarray.sort`` releases the GIL).
    The driver thus peaks at one Arrow table plus one copy of the indices.
    A driver-side ``ndarray.sort`` of 4.2e6 int32 indices takes 0.04 s; a
    Spark ``sortWithinPartitions`` of them took 0.35 s.

    The copy gets its own anonymous mapping, unmapped when the last slice
    is freed. Allocated from a malloc arena instead, freed copies stayed
    resident: perfbench sed_workflow's driver peak RSS rose by 11-16 MB,
    about one copy of bin_4d's 4.2e6 indices. The table's buffers do come
    from the glibc heap (PySpark reads each batch into Python bytes), so
    the heap is trimmed once the table is dropped: at 1e8 rows x 100^4
    cells (4-core host) the driver's max RSS was 1339 MB without the trim
    and 947 MB with it, which took 0.02-0.03 s."""
    tbl = _collect(sel)
    col = tbl.column("cell")
    if not len(col):
        return []
    dtype = np.dtype(col.type.to_pandas_dtype())
    cells = np.frombuffer(mmap.mmap(-1, len(col) * dtype.itemsize), dtype=dtype)
    np.concatenate([c.to_numpy(zero_copy_only=False) for c in col.chunks], out=cells)
    del tbl, col
    _libc_call("malloc_trim", ctypes.c_size_t(0))
    views = np.array_split(cells, min(_driver_threads(), cells.size))
    with ThreadPoolExecutor(len(views)) as ex:
        list(ex.map(np.ndarray.sort, views))
    return views


def _driver_threads() -> int:
    """Driver-side thread count of the dense kernel, sized from the
    configured parallelism (SPARK_GRAFT_CPUS), not the raw host CPU count,
    so a reduced-core run scales its driver-side threading honestly too."""
    from sed_binning_spark.session import default_parallelism

    return min(16, max(2, default_parallelism() // 2))


# Per-thread gather scratch cap (int64 values, 128 MB): a cell range whose
# value count exceeds it (extreme skew) is gathered and counted in pieces.
_GATHER_CAP = 16_000_000


def _sorted_slices_histogram(slices: Sequence[np.ndarray], n_cells: int) -> np.ndarray:
    """Float32 histogram over cells ``[0, n_cells)`` of sorted index slices:
    the one dense-driver kernel.

    Each slice holds cell indices, sorted ascending by the hand-off
    (:func:`_sorted_cells`); values at the ``n_cells`` sentinel
    (NULL/out-of-range rows) sort last and are never counted. Sortedness is verified with one
    sequential pass per slice, and a slice that is not sorted is sorted
    here — never counted wrong, since the ranges below binary-search it.

    The cell space splits into contiguous ranges, taken round-robin by
    driver threads (numpy releases the GIL). One vectorized search per
    slice locates every range's span, so each range reads only its own
    values and writes only its own cells of the zeroed cube:

    - a range holding fewer values than cells (the sparse regime, e.g. 1e5
      rows x 1e8 cells) scatters the run-lengths of each sorted span, so
      it touches only occupied cells instead of bincounting empty ones;
    - a denser range gathers its spans (widened to int64 in the same pass)
      into its thread's int64 scratch (allocated on the thread's first
      dense range, reused by its later ones), bincounts them and writes
      the counts straight into the cube — no n_cells-sized int64
      accumulator, no serial astype pass.

    The result is order-independent (a histogram) — pinned against
    np.bincount by tests."""
    hist = _madv_hugepage(np.zeros(n_cells, dtype=np.float32))
    slices = [s for s in slices if s.size]
    if not slices:
        return hist
    n_threads = _driver_threads()
    # ranges sized so a dense range's bincount result stays under glibc's
    # dynamic mmap threshold (~32 MB) and recycles from the arena free
    # lists, and so the gathered values of a range fit the usual scratch
    total = sum(s.size for s in slices)
    n_ranges = max(n_threads, int(np.ceil(n_cells / 3_000_000)),
                   int(np.ceil(total / 2_500_000)))
    bounds = np.linspace(0, n_cells, n_ranges + 1).astype(np.int64)

    def _locate(s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if s.size > 1 and not bool(np.all(s[:-1] <= s[1:])):
            s = np.sort(s)
        # bounds cast to the slice dtype: mixed dtypes would make
        # searchsorted convert (copy) the whole slice
        return s, np.searchsorted(s, bounds.astype(s.dtype))

    def _one_range(i: int, sc: np.ndarray) -> np.ndarray:
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        spans = [(s, int(c[i]), int(c[i + 1])) for s, c in located if c[i + 1] > c[i]]
        m = sum(b - a for _, a, b in spans)
        if m == 0:
            return sc
        if m < hi - lo:
            for s, a, b in spans:
                v = s[a:b]
                head = np.flatnonzero(np.concatenate(([True], v[1:] != v[:-1])))
                hist[v[head]] += np.diff(head, append=v.size)
            return sc
        if sc.size < min(m, _GATHER_CAP):
            sc = _madv_hugepage(
                np.empty(min(max(m, 4_000_000), _GATHER_CAP), dtype=np.int64))
        cnt = None
        for g in _gather(spans, sc):
            np.subtract(g, lo, out=g)
            part = np.bincount(g, minlength=hi - lo)
            cnt = part if cnt is None else cnt + part
        hist[lo:hi] = cnt  # parallel cast-write
        return sc

    def _worker(j: int) -> None:
        sc = np.empty(0, dtype=np.int64)
        for i in range(j, n_ranges, n_threads):
            sc = _one_range(i, sc)

    with ThreadPoolExecutor(n_threads) as ex:
        located = list(ex.map(_locate, slices))
        list(ex.map(_worker, range(n_threads)))
    return hist


def _gather(spans, sc: np.ndarray):
    """Yield the values of ``spans`` (``(slice, start, stop)`` triples)
    copied into ``sc``, one filled scratch at a time."""
    w = 0
    for s, a, b in spans:
        while a < b:
            take = min(b - a, sc.size - w)
            sc[w:w + take] = s[a:a + take]  # gather + widen, one pass
            w += take
            a += take
            if w == sc.size:
                yield sc
                w = 0
    if w:
        yield sc[:w]


def bin_dataframe_sparse(
    df: DataFrame,
    bins=100,
    axes: Sequence[str] | None = None,
    ranges: Sequence[tuple[float, float]] | None = None,
    jitter=None,
    filters: Sequence[dict] | None = None,
    jitter_seed: int | None = None,
    count_column: str = "count",
) -> DataFrame:
    """Distributed N-D histogram as a SPARSE DataFrame of occupied cells.

    Same semantics as :func:`bin_dataframe` but the result stays in Spark:
    one row per occupied cell, columns = bin indices per axis (named after
    the axes) + ``count``. This is the scale path when ``prod(bins)`` exceeds
    driver memory, and the form the driver's oracle checks compare.
    """
    bins, axes, ranges = simplify_binning_arguments(bins, axes, ranges)
    df = _apply_prebinning_filters(df, filters)
    if jitter is not None:
        df = _apply_binning_jitter(df, jitter, bins, axes, ranges, seed=jitter_seed)
    df, idx_cols, _, exprs = bin_index_columns(df, bins, axes, ranges)
    renamed = [e.alias(ax) for e, ax in zip(exprs, axes)]
    # NULL indices drop as post-agg groups, not a pre-agg filter — a filter
    # would re-inline every index expression tree into its condition and can
    # push the fused stage past the codegen method limit (see bin_dataframe).
    # The `count < 0` disjunct (never true, not foldable) stops Catalyst
    # from pushing the isnotnull conjunction below the aggregate, which
    # would re-create exactly that pre-agg filter (see bin_dataframe).
    not_null = reduce(lambda a, b: a & b, [F.col(ax).isNotNull() for ax in axes])
    return (
        df.select(*renamed)
        .groupBy(*axes)
        .agg(F.count(F.lit(1)).alias(count_column))
        .where(not_null | (F.col(count_column) < 0))
    )


def _apply_prebinning_filters(df: DataFrame, filters: Sequence[dict] | None) -> DataFrame:
    """Shared pre-binning filter-spec parsing (strict: unknown keys raise,
    'col' is required) — one validator for both the dense and sparse
    entry points so the same spec can never be interpreted two ways."""
    if filters is None:
        return df
    from sed_binning_spark.core.dfops import apply_filter

    for spec in filters:
        spec = dict(spec)
        col = spec.pop("col", None)
        if col is None:
            raise ValueError("filter spec requires a 'col' key")
        lower = spec.pop("lower_bound", -np.inf)
        upper = spec.pop("upper_bound", np.inf)
        if spec:
            raise ValueError(f"unknown filter keys: {sorted(spec)}")
        df = apply_filter(df, col, lower, upper)
    return df


def _apply_binning_jitter(df, jitter, bins, axes, ranges, seed=None):
    """Inline binsize-scaled jitter on the binned copies of selected axes
    (bin_partition's jitter path, sed/binning/binning.py:152-172)."""
    from sed_binning_spark.core.dfops import apply_jitter

    if isinstance(jitter, str):
        jitter = [jitter]
    if not isinstance(jitter, dict):
        jitter = {k: None for k in jitter}
    for col, jpars in jitter.items():
        if col not in axes:
            continue
        jpars = dict(jpars or {})
        amp = jpars.get("amplitude", 0.5)
        mode = jpars.get("mode", "uniform")
        d = axes.index(col)
        if isinstance(bins[d], np.ndarray):
            centers = np.asarray(bins[d], dtype=float)
            binsize = abs(float(centers[1]) - float(centers[0]))
            # uniformity check on all center spacings (guarded for n=2,
            # where a single spacing is trivially uniform)
            if centers.size > 2 and not np.allclose(np.diff(centers), binsize):
                raise ValueError(f"bins along {col} are not uniform. Cannot apply jitter.")
        else:
            lo, hi = ranges[d]
            binsize = abs(hi - lo) / bins[d]
        # overwrite the binned column in place (the reference's bin_partition
        # jitters the binned copy, sed/binning/binning.py:152-172) — jitter
        # into a side column would silently be a no-op for the histogram.
        # Seeded runs derive a DISTINCT seed per axis (seed + axis index):
        # one shared seed would make F.rand emit the identical per-row
        # sequence for every axis, displacing events only along the
        # diagonal — a different distribution than the unseeded form.
        df = apply_jitter(
            df, cols=[col], cols_jittered=[col], amps=amp * binsize,
            jitter_type=mode, seed=None if seed is None else seed + d,
        )
    return df


def normalization_histogram_sparse_from_timestamps(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_stamp_column: str,
    order_columns: Sequence[str] = ("file_id", "row_id"),
    bin_column: str = "bin",
    time_column: str = "time",
) -> DataFrame:
    """Sparse (distributed) form of :func:`normalization_histogram_from_timestamps`:
    one row per occupied bin with the summed per-event dt."""
    from pyspark.sql.window import Window

    # order_columns = (*partition keys, row column): multiple keys — e.g.
    # ("file_id", "split_id", "row_id") from add_file_and_row_ids — window
    # per scan split so one giant file does not serialize into a single
    # sort task; the handoff below is lexicographic in the key tuple.
    # Only the LEADING key may be absent (global-window mode for keyless
    # test frames); a missing trailing key raises like dfops._fill_keys —
    # silently degrading to a global window would order lag() by a
    # per-file row_id whose ties across files make dt nondeterministic.
    *part_cols, row_col = order_columns
    keyed = bool(part_cols) and part_cols[0] in df.columns
    if keyed:
        missing = [p for p in part_cols[1:] if p not in df.columns]
        if missing:
            raise KeyError(f"order_columns not in dataframe: {missing}")
    if keyed:
        w = Window.partitionBy(*part_cols).orderBy(row_col)
        # last timestamp per key -> driver -> previous-key handoff
        per_file = (
            df.groupBy(*part_cols)
            .agg(F.max_by(time_stamp_column, row_col).alias("__last_ts"))
            .collect()
        )
        per_file.sort(key=lambda r: tuple(r[p] for p in part_cols))
        handoff = []
        prev = None
        for r in per_file:
            handoff.append((*[r[p] for p in part_cols], prev))
            prev = r["__last_ts"]
        dtypes = dict(df.dtypes)
        key_schema = ", ".join(f"{p} {dtypes[p]}" for p in part_cols)
        bdf = df.sparkSession.createDataFrame(
            handoff, schema=f"{key_schema}, __prev_ts {dtypes[time_stamp_column]}",
        )
        df = df.join(F.broadcast(bdf), on=list(part_cols), how="left")
        prev_ts = F.coalesce(F.lag(time_stamp_column).over(w), F.col("__prev_ts"))
    else:
        w = Window.orderBy(row_col)
        prev_ts = F.lag(time_stamp_column).over(w)
    dt = (F.col(time_stamp_column) - prev_ts).alias("__dt")

    edges = bin_centers_to_bin_edges(bin_centers)
    idx = bin_index_expr_edges(axis, edges).alias("__bin")
    return (
        df.select(idx, dt)
        .where(F.col("__bin").isNotNull() & F.col("__dt").isNotNull())
        .groupBy(F.col("__bin").alias(bin_column))
        .agg(F.sum("__dt").alias(time_column))
    )


def normalization_histogram_from_timestamps(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_stamp_column: str,
    order_columns: Sequence[str] = ("file_id", "row_id"),
) -> Cube:
    """Per-bin acquisition time from event timestamps (A9; reference
    sed/binning/binning.py:440-473): time_per_electron = diff(timestamps) in
    event order, summed per bin of ``axis``.

    The lag runs inside per-file windows (partitionBy file) so the sort
    shuffles only within files — at 100 TB a single global orderBy window
    would serialize on one task. The previous file's LAST timestamp is
    carried across the boundary (tiny per-file agg + broadcast join, the
    same trick as forward_fill), so the dt series equals the reference's
    single global ``.diff()`` (sed/binning/binning.py:459): exactly one NULL
    overall, at the first event of the first file.
    """
    rows = normalization_histogram_sparse_from_timestamps(
        df, axis, bin_centers, time_stamp_column, order_columns,
    ).collect()
    hist = np.zeros(len(bin_centers), dtype=float)
    for r in rows:
        if r["time"] is not None:
            hist[int(r["bin"])] = r["time"]
    return Cube(hist, {axis: np.asarray(bin_centers, dtype=float)})


def normalization_histogram_sparse_from_timed_dataframe(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_unit: float,
    bin_column: str = "bin",
    time_column: str = "time",
) -> DataFrame:
    """Sparse (distributed) form of
    :func:`normalization_histogram_from_timed_dataframe`."""
    edges = bin_centers_to_bin_edges(bin_centers)
    idx = bin_index_expr_edges(axis, edges).alias("__bin")
    return (
        df.select(idx)
        .where(F.col("__bin").isNotNull())
        .groupBy(F.col("__bin").alias(bin_column))
        .agg((F.count(F.lit(1)) * F.lit(float(time_unit))).alias(time_column))
    )


def normalization_histogram_from_timed_dataframe(
    df: DataFrame,
    axis: str,
    bin_centers: np.ndarray,
    time_unit: float,
) -> Cube:
    """Per-bin acquisition time from the timed (fixed-rate) dataframe (A10;
    reference sed/binning/binning.py:476-508): count per bin x time_unit."""
    rows = normalization_histogram_sparse_from_timed_dataframe(
        df, axis, bin_centers, time_unit,
    ).collect()
    hist = np.zeros(len(bin_centers), dtype=float)
    for r in rows:
        hist[int(r["bin"])] = r["time"]
    return Cube(hist, {axis: np.asarray(bin_centers, dtype=float)})
