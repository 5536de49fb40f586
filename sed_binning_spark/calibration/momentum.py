"""Momentum correction and calibration (reference: sed/calibrator/momentum.py).

Two operators touch the event table:
- M10 momentum calibration: a pure linear Column expression (k-axis append).
- M9 distortion correction: per-event bilinear lookup into a precomputed
  inverse deformation field — the one operator that genuinely needs Python.
  The (2, H, W) grid ships as a file read by an Arrow-batched pandas_udf
  (memory-mapped once per worker process through a small module-level
  cache that the UDF reaches by reference, not re-deserialized per task),
  and the interpolation is vectorized NumPy over whole record batches.

The driver-side field *estimation* (spline warp, pose adjustment, inverse
field generation — reference F6-F8) operates on small grids, not events.
``generate_inverse_dfield`` is pure NumPy, run in row bands on a driver
thread pool.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_binning_spark.session import default_parallelism
from sed_binning_spark.sqlgen import fsql

# Worker-side mmap cache for shipped deformation-field files: with worker
# reuse the np.load memmap (an open file + parsed header, no data pages)
# survives across tasks; the mapped pages live in the page cache, shared
# by every worker process on the node. Bounded to the few most recent
# fields, oldest out first.
_DFIELD_GRID_CACHE: dict = {}
_DFIELD_GRID_CACHE_MAX = 4
_DFIELD_GRID_LOCK = threading.Lock()


# ---------------------------------------------------------------------------
# M10: detector -> k linear calibration (momentum.py:1836-1916, kernel
# :1997-2032)
# ---------------------------------------------------------------------------
def k_coordinate_exprs(
    x: str | Column,
    y: str | Column,
    rstart: float,
    cstart: float,
    x_center: float,
    y_center: float,
    kx_scale: float,
    ky_scale: float,
    rstep: float,
    cstep: float,
) -> tuple[Column, Column]:
    """``k_r = kx_scale*((r - r_det0)/rstep)`` with
    ``r_det0 = rstart + rstep*x_center`` (and the column analogue) —
    detector_coordinates_2_k_coordinates, momentum.py:1997-2032."""
    cx = (F.col(x) if isinstance(x, str) else x).cast("double")
    cy = (F.col(y) if isinstance(y, str) else y).cast("double")
    r_det0 = float(rstart) + float(rstep) * float(x_center)
    c_det0 = float(cstart) + float(cstep) * float(y_center)
    k_r = F.lit(float(kx_scale)) * ((cx - F.lit(r_det0)) / F.lit(float(rstep)))
    k_c = F.lit(float(ky_scale)) * ((cy - F.lit(c_det0)) / F.lit(float(cstep)))
    return k_r, k_c


def k_coordinate_sql(
    x: str,
    y: str,
    rstart: float,
    cstart: float,
    x_center: float,
    y_center: float,
    kx_scale: float,
    ky_scale: float,
    rstep: float,
    cstep: float,
) -> tuple[str, str]:
    """DuckDB twin of :func:`k_coordinate_exprs`."""
    r_det0 = float(rstart) + float(rstep) * float(x_center)
    c_det0 = float(cstart) + float(cstep) * float(y_center)
    kx = f"{fsql(kx_scale)} * ((CAST({x} AS DOUBLE) - {fsql(r_det0)}) / {fsql(rstep)})"
    ky = f"{fsql(ky_scale)} * ((CAST({y} AS DOUBLE) - {fsql(c_det0)}) / {fsql(cstep)})"
    return kx, ky


def append_k_axis(
    df: DataFrame,
    calibration: dict,
    x_column: str = "X",
    y_column: str = "Y",
    new_x_column: str = "kx",
    new_y_column: str = "ky",
    corrected_x_column: str = "Xm",
    corrected_y_column: str = "Ym",
) -> tuple[DataFrame, dict]:
    """Append (kx, ky) momentum columns (append_k_axis,
    momentum.py:1836-1916). Uses the distortion-corrected X/Y columns when
    present (momentum.py:1870-1879), resolved at plan time."""
    if corrected_x_column in df.columns:
        x_column = corrected_x_column
    if corrected_y_column in df.columns:
        y_column = corrected_y_column
    try:
        kx, ky = k_coordinate_exprs(
            x_column,
            y_column,
            rstart=calibration["rstart"],
            cstart=calibration["cstart"],
            x_center=calibration["x_center"],
            y_center=calibration["y_center"],
            kx_scale=calibration["kx_scale"],
            ky_scale=calibration["ky_scale"],
            rstep=calibration["rstep"],
            cstep=calibration["cstep"],
        )
    except KeyError as exc:
        raise ValueError("Required calibration parameters missing!") from exc
    out = df.withColumns({new_x_column: kx, new_y_column: ky})
    return out, {"calibration": dict(calibration)}


# ---------------------------------------------------------------------------
# M9: inverse-deformation-field lookup (momentum.py:1677-1760, kernel
# :2035-2071)
# ---------------------------------------------------------------------------
def map_coordinates_bilinear(
    grid: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
) -> np.ndarray:
    """Pure-NumPy scipy.ndimage.map_coordinates(order=1, mode='constant',
    cval=0): bilinear sample of ``grid`` at fractional (rows, cols);
    neighbors outside the grid contribute 0."""
    h, w = grid.shape
    # NaN coordinates are "outside" (flagged via the bad mask below, which
    # tests the ORIGINAL rows/cols); route them to a harmless off-grid
    # value first so floor/astype never casts NaN (a per-batch
    # RuntimeWarning and UB-ish int)
    finite = np.isfinite(rows) & np.isfinite(cols)
    safe_rows = np.where(finite, rows, -10.0)
    safe_cols = np.where(finite, cols, -10.0)
    r0 = np.floor(safe_rows).astype(np.int64)
    c0 = np.floor(safe_cols).astype(np.int64)
    fr = safe_rows - r0
    fc = safe_cols - c0
    out = np.zeros(rows.shape, dtype=np.float64)
    for dr, dc, wgt in (
        (0, 0, (1 - fr) * (1 - fc)),
        (0, 1, (1 - fr) * fc),
        (1, 0, fr * (1 - fc)),
        (1, 1, fr * fc),
    ):
        rr = r0 + dr
        cc = c0 + dc
        ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
        vals = np.zeros_like(out)
        vals[ok] = grid[rr[ok], cc[ok]]
        out += wgt * vals
    # scipy's legacy 'constant' mode interpolates only strictly inside
    # [0, n-1]; ANY coordinate beyond that is cval (0) with no partial
    # blending (a half-pixel blend band here would pull border-band events
    # partway toward 0 where the reference zeroes them outright). A NaN
    # coordinate (e.g. from a NaN-composed deformation field) is likewise
    # "outside" — the < / > comparisons alone would miss it and leak NaN.
    bad = (
        ~np.isfinite(rows) | ~np.isfinite(cols)
        | (rows < 0.0) | (rows > h - 1.0) | (cols < 0.0) | (cols > w - 1.0)
    )
    out[bad] = 0.0
    return out


def _dfield_grid(fname: str) -> np.ndarray:
    """The shipped grid file ``fname``, memory-mapped once per worker
    process. Module-level so that cloudpickle ships it by reference: the
    UDF then reads this module's cache in the worker, not a by-value copy
    of it unpickled empty with every task."""
    with _DFIELD_GRID_LOCK:
        grid = _DFIELD_GRID_CACHE.get(fname)
        if grid is None:
            from pyspark import SparkFiles

            grid = np.load(SparkFiles.get(fname), mmap_mode="r")
            while len(_DFIELD_GRID_CACHE) >= _DFIELD_GRID_CACHE_MAX:
                del _DFIELD_GRID_CACHE[next(iter(_DFIELD_GRID_CACHE))]
            _DFIELD_GRID_CACHE[fname] = grid
    return grid


def _dfield_lookup_fn(fname: str, r_step: float, c_step: float):
    """The Arrow-batched body of :func:`apply_dfield`'s pandas_udf: both
    corrected coordinates of a batch from the grid in file ``fname``."""
    import pandas as pd

    def _lookup_fn(x, y):
        grid = _dfield_grid(fname)
        rows = x.to_numpy(dtype=float)
        cols = y.to_numpy(dtype=float)
        new_x = map_coordinates_bilinear(grid[0], rows, cols) * r_step
        new_y = map_coordinates_bilinear(grid[1], rows, cols) * c_step
        return pd.DataFrame({"x": new_x, "y": new_y})

    # real (non-stringized) hints: `from __future__ import annotations` breaks
    # pandas_udf eval-type inference for struct returns
    _lookup_fn.__annotations__ = {"x": pd.Series, "y": pd.Series, "return": pd.DataFrame}
    return _lookup_fn


def apply_dfield(
    df: DataFrame,
    dfield: np.ndarray,
    x_column: str = "X",
    y_column: str = "Y",
    new_x_column: str = "Xm",
    new_y_column: str = "Ym",
    detector_ranges=((0, 2048), (0, 2048)),
) -> DataFrame:
    """Distortion correction: per-event bilinear lookup into the inverse
    deformation field, scaled by the axis step (apply_dfield,
    momentum.py:2035-2071):

        x' = interp2(dfield[0], x, y) * r_step
        y' = interp2(dfield[1], x, y) * c_step

    One Arrow-batched pandas_udf computing BOTH outputs per batch (struct
    return) — the grid crosses to each executor once, events stream through
    in columnar batches.

    The grid ships via ``sc.addFile`` + ``np.load(..., mmap_mode='r')``,
    not a closure capture: a closure-captured grid lands in the serialized
    task command, which every task re-deserializes (a detector-resolution
    field is 64 MB — at 32 concurrent tasks that is 2 GB of redundant
    unpickling AND 32 private 64 MB heap copies per node, which is exactly
    the allocation burst that stalls under host memory compaction). The
    file ships to each executor host once, and every worker process on the
    node memory-maps the SAME page-cached bytes — per-worker RSS for the
    grid is ~0 and the lookup touches only the pages it samples
    (guide §4.5: heavyweight state once per task, §5: bound Python worker
    memory). Files are memoized per SparkContext by grid digest so
    repeated query builds over the same field (bench re-runs, interactive
    re-binning) re-use one shipped file.
    """
    import hashlib
    import tempfile

    from pyspark.sql.functions import pandas_udf

    dfield = np.ascontiguousarray(np.asarray(dfield, dtype=np.float64))
    if dfield.ndim != 3 or dfield.shape[0] != 2:
        raise ValueError(f"dfield must have shape (2, H, W), got {dfield.shape}")
    r_step = (detector_ranges[0][1] - detector_ranges[0][0]) / dfield[0].shape[0]
    c_step = (detector_ranges[1][1] - detector_ranges[1][0]) / dfield[0].shape[1]

    sc = df.sparkSession.sparkContext
    memo = getattr(sc, "_sed_dfield_files", None)
    if memo is None:
        memo = {}
        sc._sed_dfield_files = memo
    digest = hashlib.sha1(dfield).hexdigest()
    fname = memo.get(digest)
    if fname is None:
        fname = f"sed_dfield_{digest}.npy"
        path = os.path.join(tempfile.gettempdir(), fname)
        if not os.path.exists(path):
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                np.save(fh, dfield)
            os.replace(tmp, path)  # atomic: concurrent builders never
            # expose a half-written grid file
        sc.addFile(path)
        memo[digest] = fname

    _lookup = pandas_udf(_dfield_lookup_fn(fname, r_step, c_step), "x double, y double")

    tmp = "__dfield_out"
    out = df.withColumn(tmp, _lookup(F.col(x_column), F.col(y_column)))
    out = out.withColumns(
        {new_x_column: F.col(f"{tmp}.x"), new_y_column: F.col(f"{tmp}.y")},
    ).drop(tmp)
    return out


def _dilate4(m: np.ndarray) -> np.ndarray:
    """Binary dilation with the 4-neighbor cross (no scipy)."""
    out = m.copy()
    out[1:, :] |= m[:-1, :]
    out[:-1, :] |= m[1:, :]
    out[:, 1:] |= m[:, :-1]
    out[:, :-1] |= m[:, 1:]
    return out


def _erode4(m: np.ndarray) -> np.ndarray:
    """Binary erosion with the 4-neighbor cross. Outside the raster counts
    as FILLED (the standard closing convention), so a region touching the
    border — the typical full-coverage deformation field — keeps its edge
    rows and edge seam holes remain fillable."""
    out = m.copy()
    out[1:, :] &= m[:-1, :]
    out[:-1, :] &= m[1:, :]
    out[:, 1:] &= m[:, :-1]
    out[:, :-1] &= m[:, 1:]
    return out


def _bilinear_or_nan(grid: np.ndarray, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Bilinear sample with NaN (not cval=0) outside [0, n-1] — for field
    resampling, where a zero would masquerade as a real coordinate. NaN
    coordinates are NaN out too."""
    out = map_coordinates_bilinear(grid, rows, cols)
    h, w = grid.shape
    bad = (
        ~np.isfinite(rows) | ~np.isfinite(cols)
        | (rows < 0.0) | (rows > h - 1.0) | (cols < 0.0) | (cols > w - 1.0)
    )
    out[bad] = np.nan
    return out


def _axis_bilinear_parts(coords: np.ndarray, n: int):
    """Per-axis pieces of the separable bilinear sample: floor index,
    fractional weight, per-neighbor in-bounds masks, and the NaN-out mask.
    Bit-identical to what :func:`map_coordinates_bilinear` computes per
    point, just once per axis value instead of once per grid cell."""
    finite = np.isfinite(coords)
    safe = np.where(finite, coords, -10.0)
    i0 = np.floor(safe).astype(np.int64)
    frac = safe - i0
    ok0 = (i0 >= 0) & (i0 < n)
    ok1 = (i0 + 1 >= 0) & (i0 + 1 < n)
    bad = ~finite | (coords < 0.0) | (coords > n - 1.0)
    return i0, frac, ok0, ok1, bad


def _bilinear_grid_pair_or_nan(
    grid_a: np.ndarray,
    grid_b: np.ndarray,
    gi: np.ndarray,
    gj: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Sample TWO same-shape grids at the tensor-product raster ``gi x gj``
    — the exact values of ``_bilinear_or_nan(grid, meshgrid(gi, gj))`` for
    each grid, at a fraction of the cost.

    The general sampler treats every output cell as an independent point:
    per-point floors, per-point weight products, boolean-mask gathers. On a
    tensor-product raster all of that is separable — floors/fractions/
    bounds masks depend on one axis only — so this computes them once per
    AXIS VALUE and broadcasts. Every elementwise operation (the
    ``(1-fr)*(1-fc)`` weight products, the ``out += wgt * vals``
    accumulation order, the zero for off-grid neighbors, the NaN-out mask)
    is the same IEEE op on the same operands as the general path, so the
    result is bit-identical (pinned by a test); both grids share one set of
    indices and weights, which is the second saving. Rows are independent,
    so a band of ``gi`` samples the same values as the whole raster does in
    those rows. Measured at the 512->2048 benchmark shape on a 4-core host:
    the per-point path 1.6-9 s (load-dependent), this one ~0.3 s for the
    pair in one thread, ~0.1 s in row bands over 4 threads."""
    if grid_a.shape != grid_b.shape:
        raise ValueError("grids must share a shape")
    h, w = grid_a.shape
    r0, frac_r, okr0, okr1, bad_r = _axis_bilinear_parts(gi, h)
    c0, frac_c, okc0, okc1, bad_c = _axis_bilinear_parts(gj, w)

    # clip for the gather; off-grid neighbors are zeroed below BEFORE the
    # weight multiply, so a clipped-in NaN grid value can never leak
    r0c = np.clip(r0, 0, h - 1)
    r1c = np.clip(r0 + 1, 0, h - 1)
    c0c = np.clip(c0, 0, w - 1)
    c1c = np.clip(c0 + 1, 0, w - 1)

    wr0 = 1.0 - frac_r
    wc0 = 1.0 - frac_c
    out_a = np.zeros((gi.size, gj.size), dtype=np.float64)
    out_b = np.zeros_like(out_a)
    # same neighbor order as map_coordinates_bilinear: (0,0),(0,1),(1,0),(1,1)
    for rc, cc_, okr, okc, wr, wc in (
        (r0c, c0c, okr0, okc0, wr0, wc0),
        (r0c, c1c, okr0, okc1, wr0, frac_c),
        (r1c, c0c, okr1, okc0, frac_r, wc0),
        (r1c, c1c, okr1, okc1, frac_r, frac_c),
    ):
        ok = okr[:, None] & okc[None, :]
        wgt = wr[:, None] * wc[None, :]
        vals_a = grid_a[np.ix_(rc, cc_)]
        vals_b = grid_b[np.ix_(rc, cc_)]
        vals_a[~ok] = 0.0
        vals_b[~ok] = 0.0
        out_a += wgt * vals_a
        out_b += wgt * vals_b

    bad = bad_r[:, None] | bad_c[None, :]
    out_a[bad] = np.nan
    out_b[bad] = np.nan
    return out_a, out_b


# Output cells that the bands in flight hold together: each band gets
# _INV_BAND_CELLS / threads of them, so the per-band float64 temporaries
# (~20 arrays of band x width) stay at ~40 MB in total whatever the thread
# count.
_INV_BAND_CELLS = 1 << 18


def _row_bands(out_h: int, out_w: int, n_threads: int) -> np.ndarray:
    """Row bounds of the inverse-field bands: equal contiguous row ranges
    of ~_INV_BAND_CELLS / n_threads cells each, at least one row each."""
    n_bands = max(1, min(out_h, -(-out_h * out_w * n_threads // _INV_BAND_CELLS)))
    return np.linspace(0, out_h, n_bands + 1).astype(np.int64)


def generate_inverse_dfield(
    rdeform_field: np.ndarray,
    cdeform_field: np.ndarray,
    bin_ranges=((0, 2048), (0, 2048)),
    detector_ranges=((0, 2048), (0, 2048)),
) -> np.ndarray:
    """Invert a forward deformation field (generate_inverse_dfield,
    momentum.py:2074-2146). The reference rasterizes the forward-mapped
    coordinates with scipy.interpolate.griddata; this pure-NumPy version
    scatters the forward samples onto the target grid (nearest-cell deposit,
    averaging collisions) and fills holes by iterative neighbor relaxation —
    same output contract: an (2, H, W) inverse field for :func:`apply_dfield`.

    The forward samples are computed in contiguous bands of output rows on
    a driver thread pool (NumPy releases the GIL). Each band samples the
    fields, maps them to target cells and writes its in-range deposits to
    its own row slot of three shared arrays; closing the gaps between the
    slots keeps row order, so the three ``np.bincount`` deposits see the
    same input order as a whole-raster pass and the field is bit-identical
    to it. Measured at the 512² -> 2048² benchmark shape on a 4-core host:
    0.9-1.3 s for the former single-threaded whole-raster pass, 0.35-0.45 s
    with 4 threads (0.7-0.8 s with 1); traced allocation peak 584 -> 208 MB.
    """
    h, w = rdeform_field.shape
    # forward field maps grid index -> deformed coordinate (in grid units)
    fr = np.asarray(rdeform_field, dtype=float)
    fc = np.asarray(cdeform_field, dtype=float)

    # Output raster + units follow the reference contract
    # (momentum.py:2098-2137): the inverse field is sampled on the DETECTOR
    # pixel grid (detector_ranges[i][1] samples per axis, covering grid
    # coordinates [detector_start, shape) endpoint-false), and its VALUES
    # are destination coordinates in binned-axis units
    # (bin_step * index + bin_start) — exactly what apply_dfield's raw
    # (X, Y) lookups times its axis step expect. With bin == detector ==
    # (0, shape) this degenerates to the identity raster (grid-index in,
    # grid-index out).
    out_h = int(detector_ranges[0][1])
    out_w = int(detector_ranges[1][1])
    det_r0 = float(detector_ranges[0][0])
    det_c0 = float(detector_ranges[1][0])
    bin_step_r = (bin_ranges[0][1] - bin_ranges[0][0]) / h
    bin_step_c = (bin_ranges[1][1] - bin_ranges[1][0]) / w
    # fractional source positions of the output raster, in grid units (the
    # integer grid itself when the raster is the field's own)
    gi = det_r0 + np.arange(out_h) * (h - det_r0) / out_h
    gj = det_c0 + np.arange(out_w) * (w - det_c0) / out_w
    # upsample the forward field to the output raster's density first
    # (bilinear, NaN outside the field): scatter coverage then matches the
    # output resolution, so hole filling closes only rounding seams instead
    # of crawling across bin_step-wide gaps (measured 32 s -> ~2 s at the
    # 512-grid -> 2048-detector benchmark shape)
    upsample = (out_h, out_w) != (h, w) or bool(det_r0 or det_c0)
    dest_c_row = bin_step_c * gj + bin_ranges[1][0]

    def _band(a: int, b: int):
        if upsample:
            # tensor-product raster -> separable sampler (bit-identical to
            # the general _bilinear_or_nan per-point path, pinned by a
            # test; shares one index/weight set between both fields)
            br, bc = _bilinear_grid_pair_or_nan(fr, fc, gi[a:b], gj)
        else:
            br, bc = fr[a:b], fc[a:b]
        # deformed grid positions, shifted by the bin offset in grid units
        key_r = br + bin_ranges[0][0] / bin_step_r
        key_c = bc + bin_ranges[1][0] / bin_step_c
        # map grid coordinates onto output pixel indices (inverse of the
        # reference's linspace(det_start, shape, n_det, endpoint=False) mesh)
        finite = np.isfinite(br) & np.isfinite(bc)
        with np.errstate(invalid="ignore"):
            tr = np.where(
                finite, np.rint((key_r - det_r0) * out_h / (h - det_r0)), -1,
            ).astype(np.int64)
            tc = np.where(
                finite, np.rint((key_c - det_c0) * out_w / (w - det_c0)), -1,
            ).astype(np.int64)
        ok = (tr >= 0) & (tr < out_h) & (tc >= 0) & (tc < out_w) & finite
        # the band's deposits go to its own row slot of the shared arrays
        lo = a * out_w
        hi = lo + np.count_nonzero(ok)
        flat[lo:hi] = tr[ok] * out_w + tc[ok]
        dest_r_col = bin_step_r * gi[a:b, None] + bin_ranges[0][0]
        dest_r[lo:hi] = np.broadcast_to(dest_r_col, ok.shape)[ok]
        dest_c[lo:hi] = np.broadcast_to(dest_c_row, ok.shape)[ok]
        return hi - lo

    # the configured parallelism (SPARK_GRAFT_CPUS), capped like the dense
    # binning kernel's; no Spark job runs meanwhile, so every core is free
    n_threads = min(16, max(1, default_parallelism()))
    bounds = _row_bands(out_h, out_w, n_threads)
    n_cells = out_h * out_w
    # each output-raster sample deposits at most once, so a band's row
    # slot holds all of its deposits. One large allocation per array is
    # returned to the OS when freed; per-band pieces would stay behind in
    # the threads' malloc arenas (measured ~125 MB resident after a
    # 2048² call, against ~15 MB this way).
    flat = np.empty(n_cells, dtype=np.int64)
    dest_r = np.empty(n_cells)
    dest_c = np.empty(n_cells)
    with ThreadPoolExecutor(n_threads) as ex:
        sizes = list(ex.map(_band, bounds[:-1], bounds[1:]))
        # close the gaps between the slots, keeping band order = row-major
        # raster order: every weighted sum below accumulates in the same
        # order as a whole-raster deposit
        n = 0
        for lo, size in zip(bounds[:-1] * out_w, sizes):
            if lo != n:
                for arr in (flat, dest_r, dest_c):
                    arr[n:n + size] = arr[lo:lo + size]
            n += size
        flat, dest_r, dest_c = flat[:n], dest_r[:n], dest_c[:n]
        # bincount-with-weights deposit: ~10x np.add.at for multi-million hits
        sums_r, sums_c, counts = ex.map(
            lambda wgt: np.bincount(flat, weights=wgt, minlength=n_cells)
            .reshape(out_h, out_w),
            (dest_r, dest_c, None),
        )
        del flat, dest_r, dest_c
        inv = np.full((2, out_h, out_w), np.nan)
        filled = counts > 0
        # mean of the deposits per filled cell; the rest stays NaN
        list(ex.map(lambda plane, sums: np.divide(sums, counts, out=inv[plane], where=filled),
                    (0, 1), (sums_r, sums_c)))

    # bounded hole fill: a few rounds of finite-4-neighbor averaging close
    # the rounding seams the nearest-cell deposit leaves; cells still NaN
    # after that are OUTSIDE the forward field's data hull and stay NaN —
    # the same contract as the reference's griddata (linear interpolation,
    # fill_value=nan outside the hull), whose NaNs flow through apply_dfield
    # and are rejected by downstream binning
    # Only SEAM holes may fill: a morphological closing (radius 2) of the
    # deposit mask covers gaps enclosed by data — the rounding seams the
    # nearest-cell deposit leaves — while cells outside the data hull stay
    # excluded. Without this mask the relaxation crawls up to 8 px past the
    # hull, fabricating inverse-field values the reference's griddata
    # (fill_value=nan) correctly leaves NaN.
    closed = filled
    for _ in range(2):
        closed = _dilate4(closed)
    for _ in range(2):
        closed = _erode4(closed)
    fillable = closed & ~filled
    # Sparse Jacobi relaxation: the historical full-raster form rebuilt
    # four np.roll copies plus acc/cnt rasters per iteration (~20 full
    # 4M-cell temporaries x 8 iterations x 2 planes); but the holes are a
    # few thousand seam cells, so iterate over THEIR flat indices only.
    # Per hole cell the neighbor values are gathered from the same g state
    # (all gathers before any scatter = the same simultaneous update), in
    # the same N/S/W/E order with the same skip-NaN accumulation and the
    # same float64 acc/cnt division, so the filled values are bit-identical
    # to the roll form (pinned by a test). A pass that fills nothing ends
    # the loop early: g is unchanged, so the remaining passes were no-ops.
    for plane in (0, 1):
        g = inv[plane]
        gflat = g.ravel()
        idx = np.flatnonzero(np.isnan(gflat) & fillable.ravel())
        for _ in range(8):
            if not idx.size:
                break
            i = idx // out_w
            j = idx - i * out_w
            acc = np.zeros(idx.size, dtype=np.float64)
            cnt = np.zeros(idx.size, dtype=np.float64)
            # neighbor order matches the roll form: N, S, W, E
            for valid, off in (
                (i > 0, -out_w),
                (i < out_h - 1, out_w),
                (j > 0, -1),
                (j < out_w - 1, 1),
            ):
                nb = np.full(idx.size, np.nan)
                nb[valid] = gflat[idx[valid] + off]
                good = ~np.isnan(nb)
                acc[good] += nb[good]
                cnt[good] += 1
            fill = cnt > 0
            if not fill.any():
                break
            gflat[idx[fill]] = acc[fill] / cnt[fill]
            idx = idx[~fill]

    # values are binned-axis destination coordinates; apply_dfield's
    # per-axis step factor (momentum.py:2063-2066) completes the unit chain
    return inv
