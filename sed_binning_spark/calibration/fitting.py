"""Driver-side energy-calibration fitting stack F1-F3 (reference:
sed/calibrator/energy.py:178-288, 1785-2088).

These consume BINNED (small) data — bias-series TOF traces from the A8
per-file histogram stack — and produce the literals the §2.3 transforms
apply, so they run on the driver in both the reference and here. The
reference depends on scipy (savgol_filter) and fastdtw; neither is
available in this environment, so both are replaced by from-scratch
NumPy implementations with the same contracts:

- :func:`savgol_filter` — least-squares polynomial smoothing with
  scipy-style 'interp' edge handling.
- :func:`find_correspondence` — EXACT dynamic-time-warp path (the
  reference uses the fastdtw radius-1 approximation; traces are O(1000)
  samples so the exact O(nm) path is affordable and strictly at least as
  accurate). Row-vectorized min-plus prefix scan, no O(nm) Python loop.
- :func:`peakdetect1d` — lookahead local-extrema detection with the same
  semantics as the reference's detector (billauer peakdet family):
  a candidate maximum is confirmed when the signal drops below
  ``max - delta`` and no higher value occurs within ``lookahead``.

The glue, :func:`bin_bias_series`, produces (tof, traces) from the event
dataframe with ONE Spark aggregation (bin index × file_id groupBy — the
green A8 path); everything after is NumPy on kilobyte arrays.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np


# ---------------------------------------------------------------------------
# savgol (scipy.signal.savgol_filter replacement, mode='interp')
# ---------------------------------------------------------------------------
def savgol_coeffs(window_length: int, polyorder: int) -> np.ndarray:
    """Least-squares smoothing weights for the window center: row 0 of the
    pseudo-inverse of the offset Vandermonde matrix."""
    w, p = int(window_length), int(polyorder)
    if w < 1 or w % 2 == 0:
        raise ValueError("window_length must be a positive odd integer")
    if p >= w:
        raise ValueError("polyorder must be less than window_length")
    offsets = np.arange(-(w // 2), w // 2 + 1, dtype=float)
    vander = np.vander(offsets, p + 1, increasing=True)
    return np.linalg.pinv(vander)[0]


def savgol_filter(y: np.ndarray, window_length: int, polyorder: int) -> np.ndarray:
    """Savitzky-Golay smoothing, scipy-compatible 'interp' edges (the first/
    last half-windows are evaluated from a polynomial fitted to the first/
    last full window)."""
    y = np.asarray(y, dtype=float)
    w, p = int(window_length), int(polyorder)
    n = y.size
    if n < w:
        raise ValueError("input is shorter than window_length")
    h = w // 2
    coeffs = savgol_coeffs(w, p)
    out = np.empty(n, dtype=float)
    out[h : n - h] = np.convolve(y, coeffs[::-1], mode="valid")
    head = np.polyfit(np.arange(w), y[:w], p)
    out[:h] = np.polyval(head, np.arange(h))
    tail = np.polyfit(np.arange(w), y[n - w :], p)
    out[n - h :] = np.polyval(tail, np.arange(w - h, w))
    return out


# ---------------------------------------------------------------------------
# F1: bias-series traces + normalization (energy.py:178-288, 1785-1824)
# ---------------------------------------------------------------------------
def normspec(
    specs: np.ndarray,
    smooth: bool = False,
    span: int = 7,
    order: int = 1,
) -> np.ndarray:
    """Maximum-normalize a stack of 1-D spectra, optionally savgol-smoothed
    first (normspec, energy.py:1785-1824)."""
    specs = np.asarray(specs, dtype=float)
    out = []
    for spec in specs:
        if smooth:
            spec = savgol_filter(spec, span, order)
        out.append(spec / spec.max())
    return np.asarray(out)


def bin_bias_series(
    df,
    tof_column: str,
    bins: int,
    tof_range: tuple[float, float],
    file_column: str = "file_id",
    file_ids: Sequence[int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """F1 input cube: one TOF histogram per source file (= per bias voltage)
    from ONE Spark aggregation — the A8 ``return_partitions`` path
    (EnergyCalibrator.bin_data, energy.py:178-270).

    Pass ``file_ids`` when the file list is already known (it always is
    after a loader read): it skips the distinct() discovery job, which over
    a raw-instrument mapInPandas plan would re-decode every HDF5 file.

    Returns (tof bin centers, traces[file, bin]).
    """
    from sed_binning_spark.binning.binning import bin_dataframe

    cube = bin_dataframe(
        df,
        bins=[bins],
        axes=[tof_column],
        ranges=[tof_range],
        return_partitions=True,
        partition_column=file_column,
        partition_values=file_ids,
    )
    tof = np.asarray(cube.coords[tof_column], dtype=float)
    traces = np.asarray(cube.data, dtype=float).T  # (file, bin)
    return tof, traces


# ---------------------------------------------------------------------------
# F2: trace correspondence via dynamic time warping (energy.py:1826-1890)
# ---------------------------------------------------------------------------
def dtw_path(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact DTW alignment path between two 1-D signals, as an (L, 2) array
    of (index_a, index_b) pairs from (0, 0) to (n-1, m-1).

    Cost = |a_i - b_j|; moves = (diag, down, right). The accumulated-cost
    table is filled one row at a time with a min-plus prefix scan:
    ``D[i, j] = C[j] + min_{k<=j}(E[k] - C[k-1])`` where E is the
    prior-row contribution and C the running cost sum — O(nm) work with
    O(m)-vectorized rows.
    """
    a = np.asarray(a, dtype=float).ravel()
    b = np.asarray(b, dtype=float).ravel()
    n, m = a.size, b.size
    if n == 0 or m == 0:
        raise ValueError("dtw_path requires non-empty signals")
    cost = np.abs(a[:, None] - b[None, :])
    acc = np.empty((n, m), dtype=float)
    # row 0: only right-moves
    acc[0] = np.cumsum(cost[0])
    for i in range(1, n):
        prev = acc[i - 1]
        # E[j] = min(D[i-1, j], D[i-1, j-1])
        e = prev.copy()
        e[1:] = np.minimum(prev[1:], prev[:-1])
        c = np.cumsum(cost[i])
        c_shift = np.concatenate(([0.0], c[:-1]))
        acc[i] = c + np.minimum.accumulate(e - c_shift)
    # backtrack, preferring the diagonal on ties
    path = [(n - 1, m - 1)]
    i, j = n - 1, m - 1
    while i > 0 or j > 0:
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            options = (acc[i - 1, j - 1], acc[i - 1, j], acc[i, j - 1])
            k = int(np.argmin(options))
            if k == 0:
                i, j = i - 1, j - 1
            elif k == 1:
                i -= 1
            else:
                j -= 1
        path.append((i, j))
    return np.asarray(path[::-1], dtype=np.int64)


def find_correspondence(sig_still: np.ndarray, sig_mov: np.ndarray) -> np.ndarray:
    """Pixel-wise path correspondence between a reference and a moving trace
    (find_correspondence, energy.py:1826-1847 — fastdtw there, exact DTW
    here)."""
    return dtw_path(sig_still, sig_mov)


def find_nearest(val: float, narray: np.ndarray) -> int:
    """Index of the array value nearest to ``val`` (energy.py:1880-1890)."""
    return int(np.argmin(np.abs(np.asarray(narray) - val)))


def range_convert(
    x: np.ndarray,
    xrng: tuple,
    pathcorr: np.ndarray,
) -> tuple:
    """Transform a value range through a path correspondence
    (range_convert, energy.py:1849-1877): for each bound, find its x index,
    find that index on the reference side of the path, and read off the
    matched index on the moving side."""
    pathcorr = np.asarray(pathcorr)
    out = []
    for xval in xrng:
        xind = find_nearest(xval, x)
        xind_alt = find_nearest(xind, pathcorr[:, 0])
        out.append(x[pathcorr[xind_alt, 1]])
    return tuple(out)


def infer_feature_ranges(
    tof: np.ndarray,
    traces_normed: np.ndarray,
    ranges: tuple[float, float],
    ref_id: int = 0,
) -> list[tuple]:
    """F2 driver: align every trace to the reference trace and carry the
    given feature range across (EnergyCalibrator.add_ranges with
    infer_others=True, energy.py:430-481)."""
    out: list[tuple] = []
    for i in range(len(traces_normed)):
        path = find_correspondence(traces_normed[ref_id], traces_normed[i])
        out.append(range_convert(tof, ranges, path))
    return out


# ---------------------------------------------------------------------------
# F3: 1-D peak detection (energy.py:1892-2088)
# ---------------------------------------------------------------------------
def peakdetect1d(
    y_axis: np.ndarray,
    x_axis: np.ndarray | None = None,
    lookahead: int = 200,
    delta: float = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Local maxima/minima by lookahead confirmation: a running extremum
    becomes a peak once the signal retreats past ``delta`` AND no better
    value appears within the next ``lookahead`` samples (the billauer
    peakdet contract the reference ports, energy.py:1975-2088; the first
    detected extremum is discarded as the customary false hit).

    Returns (max_peaks, min_peaks) as (N, 2) arrays of [x, y].
    """
    y = np.asarray(y_axis, dtype=float)
    if x_axis is None:
        x = np.arange(len(y), dtype=float)
    else:
        x = np.asarray(x_axis, dtype=float)
    if len(x) != len(y):
        raise ValueError("Input vectors y_axis and x_axis must have same length")
    if lookahead < 1:
        raise ValueError("Lookahead must be '1' or above in value")
    if not (np.ndim(delta) == 0 and delta >= 0):
        raise ValueError("delta must be a positive number")

    max_peaks: list[list[float]] = []
    min_peaks: list[list[float]] = []
    first_is_max: list[bool] = []
    run_max, run_min = -np.inf, np.inf
    max_pos = min_pos = x[0]
    length = len(y)

    for idx in range(length - lookahead):
        val = y[idx]
        if val > run_max:
            run_max, max_pos = val, x[idx]
        if val < run_min:
            run_min, min_pos = val, x[idx]

        if val < run_max - delta and np.isfinite(run_max):
            if y[idx : idx + lookahead].max() < run_max:
                max_peaks.append([max_pos, run_max])
                first_is_max.append(True)
                run_max, run_min = np.inf, np.inf
                if idx + lookahead >= length:
                    break
                continue
        if val > run_min + delta and np.isfinite(run_min):
            if y[idx : idx + lookahead].min() > run_min:
                min_peaks.append([min_pos, run_min])
                first_is_max.append(False)
                run_min, run_max = -np.inf, -np.inf
                if idx + lookahead >= length:
                    break

    # drop the first hit (almost always the leading ramp, not a peak)
    if first_is_max:
        if first_is_max[0]:
            max_peaks.pop(0)
        else:
            min_peaks.pop(0)
    return np.asarray(max_peaks), np.asarray(min_peaks)


def extract_bias_values(
    per_file_meta: Sequence[dict],
    bias_key: str,
) -> np.ndarray:
    """F10: per-file bias voltages from file metadata (extract_bias,
    energy.py:1649-1668). The reference reads h5 attrs; here the conversion
    step surfaces each file's attribute dict and this resolves the
    ``@``-prefixed (attribute) or plain (dataset) key, rounded to 2
    decimals exactly as the reference does."""
    key = bias_key[1:] if bias_key.startswith("@") else bias_key
    out = []
    for meta in per_file_meta:
        if key not in meta:
            raise KeyError(f"bias key {bias_key!r} not found in file metadata")
        out.append(round(float(meta[key]), 2))
    return np.asarray(out)


def extract_bias_h5(files: Sequence[str], bias_key: str) -> np.ndarray:
    """File-backed twin of :func:`extract_bias_values`: reads the bias
    straight from the instrument files via the engine's pure-Python HDF5
    reader (``@key`` = root attribute, plain key = scalar dataset) —
    no h5py needed."""
    from sed_binning_spark.io.hdf5_read import H5File

    vals = []
    for file in files:
        with H5File(file) as fh:
            if bias_key.startswith("@"):
                vals.append(round(float(fh.attrs("/")[bias_key[1:]]), 2))
            else:
                vals.append(round(float(fh.read(bias_key).ravel()[0]), 2))
    return np.asarray(vals)


def calibrate_energy(
    landmarks: np.ndarray,
    biases: np.ndarray,
    t: np.ndarray,
    ref_id: int = 0,
    ref_energy: float | None = None,
    method: str = "lmfit",
    energy_scale: str = "kinetic",
    binwidth: float = 4.125e-12,
    binning: int = 1,
    **kwds,
) -> dict:
    """End-to-end F4 driver mirroring EnergyCalibrator.calibrate
    (energy.py:515-607): sign-flip the biases per energy scale, dispatch to
    the 1/t² fit ('lmfit' contract — NumPy Gauss-Newton here) or the
    polynomial differential solve ('lstsq'/'lsqr'), pin the reference
    landmark at ``ref_energy``.
    """
    from sed_binning_spark.calibration.energy import (
        fit_energy_calibration,
        poly_energy_calibration,
    )

    if ref_energy is None:
        raise ValueError(
            "ref_energy is required: the energy of the reference landmark "
            f"(ref_id={ref_id}) that anchors the calibrated axis.",
        )
    if energy_scale == "kinetic":
        sign = -1.0
    elif energy_scale == "binding":
        sign = 1.0
    else:
        raise ValueError(
            f'energy_scale needs to be either "binding" or "kinetic", got {energy_scale}.',
        )
    landmarks = np.asarray(landmarks, dtype=float)
    biases = np.asarray(biases, dtype=float)
    if method == "lmfit":
        calib = fit_energy_calibration(
            landmarks,
            sign * biases,
            binwidth,
            binning,
            ref_energy=float(ref_energy),
            t=t,
            energy_scale=energy_scale,
            ref_id=ref_id,
            **kwds,
        )
    elif method in ("lstsq", "lsqr"):
        calib = poly_energy_calibration(
            landmarks,
            sign * biases,
            ref_id=ref_id,
            ref_energy=float(ref_energy),
            t=t,
            energy_scale=energy_scale,
            **kwds,
        )
    else:
        raise NotImplementedError(f"unknown calibration method {method!r}")
    return calib


def peaksearch(
    traces: np.ndarray,
    tof: np.ndarray,
    ranges: Sequence[tuple],
    pkwindow: int = 3,
) -> np.ndarray:
    """First maximum inside each trace's feature range (peaksearch,
    energy.py:1892-1940). Raises if any range contains no peak."""
    tof = np.asarray(tof, dtype=float)
    peaks = []
    for rng, trace in zip(ranges, np.asarray(traces, dtype=float)):
        cond = (tof >= rng[0]) & (tof <= rng[1])
        maxs, _ = peakdetect1d(trace[cond], tof[cond], lookahead=pkwindow)
        if maxs.size == 0:
            raise IndexError(f"No peak detected in range {rng}.")
        peaks.append(maxs[0, :])
    return np.asarray(peaks)
