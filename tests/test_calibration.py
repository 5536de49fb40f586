"""Calibration transform tests: every expression factory vs its NumPy twin
(reference formulas at sed/calibrator/{energy,delay,momentum}.py)."""

from __future__ import annotations

import numpy as np
import pytest

from sed_binning_spark.calibration.delay import append_delay_axis, mm_to_ps
from sed_binning_spark.calibration.delay import add_offsets as delay_add_offsets
from sed_binning_spark.calibration.energy import (
    _TOF2EV_CONST,
    align_dld_sectors,
    append_energy_axis,
    append_tof_ns_axis,
    apply_energy_correction,
    fit_energy_calibration,
    poly_energy_calibration,
    tof2evpoly_np,
)
from sed_binning_spark.calibration.energy import add_offsets as energy_add_offsets
from sed_binning_spark.calibration.momentum import (
    append_k_axis,
    apply_dfield,
    generate_inverse_dfield,
    map_coordinates_bilinear,
)
from sed_binning_spark.loaders.utils import split_channel_bitwise, split_dld_time_from_sector_id


# ------------------------------------------------------------------ energy M3-M5
def test_tof2ev_fit_form(events_df, events_pdf):
    calib = {"d": 1.0, "t0": 1e-7, "E0": 20.0, "binwidth": 4.125e-12,
             "binning": 1, "energy_scale": "kinetic", "calib_type": "fit"}
    out, meta = append_energy_axis(events_df, calib, tof_column="t")
    pdf = out.toPandas().sort_values("row_id")
    src = events_pdf.sort_values("row_id")
    tof_ns = src.t.to_numpy() * 4.125e-12 * 2.0
    oracle = _TOF2EV_CONST * (1.0 / (tof_ns - 1e-7)) ** 2 + 20.0
    np.testing.assert_allclose(np.sort(pdf.energy.to_numpy()), np.sort(oracle), rtol=1e-12)


def test_tof2ev_binding_scale(spark):
    df = spark.createDataFrame([(70000.0,)], "t double")
    calib = {"d": 1.0, "t0": 0.0, "E0": 0.0, "energy_scale": "binding"}
    out, _ = append_energy_axis(df, calib)
    e = out.collect()[0]["energy"]
    assert e < 0  # binding scale flips the sign


def test_tof2ev_poly_form(events_df, events_pdf):
    coeffs = [1e-13, -2e-8, 3e-4]  # highest order first, no constant
    out, _ = append_energy_axis(
        events_df, {"coeffs": coeffs, "E0": -5.0, "calib_type": "poly"},
    )
    pdf = out.toPandas()
    oracle = tof2evpoly_np(coeffs, -5.0, pdf.t.to_numpy())
    np.testing.assert_allclose(pdf.energy.to_numpy(), oracle, rtol=1e-9)


def test_tof2evpoly_np_reference_form():
    """tof2evpoly accumulates ascending powers with NO constant term
    (energy.py:2377-2401): E = a_n*t + ... + a_1*t^n? No — reversed coeffs
    multiply t^1..t^n in ascending order."""
    t = np.array([2.0])
    # poly_a = [a2, a1] (highest first) -> E = a1*t + a2*t^2 + E0
    out = tof2evpoly_np([3.0, 4.0], 1.0, t)
    np.testing.assert_allclose(out, [4.0 * 2.0 + 3.0 * 4.0 + 1.0])


def test_append_energy_axis_type_inference(events_df):
    out, _ = append_energy_axis(events_df, {"d": 1.0, "t0": 0.0, "E0": 0.0})
    assert "energy" in out.columns
    with pytest.raises(ValueError, match="No valid calibration"):
        append_energy_axis(events_df, {"bogus": 1})
    with pytest.raises(KeyError):
        append_energy_axis(events_df, {"d": 1, "t0": 0, "E0": 0}, tof_column="nope")


def test_tof_ns_axis(events_df, events_pdf):
    out, _ = append_tof_ns_axis(events_df, binwidth=4.125e-12, binning=1)
    pdf = out.toPandas()
    oracle = pdf.t.to_numpy() * 1e9 * 4.125e-12 * 2.0
    np.testing.assert_allclose(pdf.t_ns.to_numpy(), oracle, rtol=1e-12)


# ------------------------------------------------------------------ correction M6
def _correction_oracle(x, y, ctype, center, amplitude, **kw):
    dx, dy = x - center[0], y - center[1]
    if ctype == "spherical":
        d = kw["diameter"]
        return -(1 - np.sqrt(1 - (dx**2 + dy**2) / d**2)) * 100 * amplitude
    if ctype == "Lorentzian":
        g = kw["gamma"]
        return 100000 * amplitude / (g * np.pi) * (g**2 / (dx**2 + dy**2 + g**2) - 1)
    if ctype == "Gaussian":
        s = kw["sigma"]
        return (20000 * amplitude / np.sqrt(2 * np.pi * s**2)
                * (np.exp(-(dx**2 + dy**2) / (2 * s**2)) - 1))
    raise ValueError(ctype)


@pytest.mark.parametrize("ctype,kw", [
    ("spherical", {"diameter": 3000.0}),
    ("Lorentzian", {"gamma": 700.0}),
    ("Gaussian", {"sigma": 400.0}),
])
def test_energy_correction_profiles(events_df, events_pdf, ctype, kw):
    corr = {"correction_type": ctype, "center": (1024.0, 1024.0), "amplitude": 2.5, **kw}
    out, _ = apply_energy_correction(events_df, corr)
    pdf = out.toPandas().sort_values("row_id")
    src = events_pdf.sort_values("row_id")
    oracle = src.t.to_numpy() + _correction_oracle(
        src.X.to_numpy(), src.Y.to_numpy(), ctype, (1024.0, 1024.0), 2.5, **kw,
    )
    np.testing.assert_allclose(np.sort(pdf.tm.to_numpy()), np.sort(oracle), rtol=1e-9)


def test_energy_correction_asymmetric_lorentzian(events_df, events_pdf):
    corr = {"correction_type": "Lorentzian_asymmetric", "center": (1000.0, 900.0),
            "amplitude": 1.0, "gamma": 600.0, "gamma2": 300.0, "amplitude2": 0.5}
    out, _ = apply_energy_correction(events_df, corr)
    pdf = out.toPandas().sort_values("row_id")
    src = events_pdf.sort_values("row_id")
    dx = src.X.to_numpy() - 1000.0
    dy = src.Y.to_numpy() - 900.0
    g, g2, a, a2 = 600.0, 300.0, 1.0, 0.5
    oracle = (100000 * a / (g * np.pi) * (g**2 / (dy**2 + g**2) - 1)
              + 100000 * a2 / (g2 * np.pi) * (g2**2 / (dx**2 + g2**2) - 1))
    np.testing.assert_allclose(
        np.sort(pdf.tm.to_numpy()), np.sort(src.t.to_numpy() + oracle), rtol=1e-9,
    )


def test_energy_correction_missing_param(events_df):
    with pytest.raises(ValueError, match="diameter"):
        apply_energy_correction(
            events_df,
            {"correction_type": "spherical", "center": (0, 0), "amplitude": 1.0},
        )
    with pytest.raises(NotImplementedError):
        apply_energy_correction(
            events_df,
            {"correction_type": "bogus", "center": (0, 0), "amplitude": 1.0},
        )


# ------------------------------------------------------------------ sectors M7/M8
def test_split_and_align_sectors(spark):
    rng = np.random.default_rng(21)
    raw = rng.integers(60000 * 8, 120000 * 8, 2000)
    df = spark.createDataFrame([(int(v),) for v in raw], "dldTimeSteps bigint")
    split = split_dld_time_from_sector_id(df, sector_id_reserved_bits=3)
    pdf = split.toPandas()
    np.testing.assert_array_equal(np.sort(pdf.dldSectorID.to_numpy()), np.sort(raw % 8))
    np.testing.assert_array_equal(np.sort(pdf.dldTimeSteps.to_numpy()), np.sort(raw // 8))
    assert dict(split.dtypes)["dldSectorID"] == "tinyint"
    assert dict(split.dtypes)["dldTimeSteps"] == "int"

    delays = [0.0, 1.5, -2.0, 3.25, 0.5, -0.75, 2.0, -1.25]
    aligned, _ = align_dld_sectors(split, delays)
    apdf = aligned.toPandas()
    # engine semantics: subtract in float64, cast the RESULT to float32
    oracle = ((raw // 8) - np.array(delays, dtype=np.float64)[raw % 8]).astype(np.float32)
    np.testing.assert_array_equal(
        np.sort(apdf.dldTimeSteps.to_numpy()), np.sort(oracle),
    )
    assert dict(aligned.dtypes)["dldTimeSteps"] == "float"


def test_split_channel_bitwise_not_idempotent(spark):
    df = spark.createDataFrame([(100,)], "c bigint")
    out = split_channel_bitwise(df, "c", ["lo", "hi"], 4)
    with pytest.raises(KeyError, match="already in dataframe"):
        split_channel_bitwise(out, "c", ["lo", "hi"], 4)
    with pytest.raises(ValueError, match="not idempotent"):
        split_dld_time_from_sector_id(
            out.withColumnRenamed("lo", "dldSectorID"), tof_column="c",
        )
    with pytest.raises(ValueError, match="bit_mask"):
        split_channel_bitwise(df, "c", ["lo", "hi"], -1)


# ------------------------------------------------------------------ momentum M9/M10
def test_append_k_axis(events_df, events_pdf):
    calib = {"rstart": 0.0, "cstart": 0.0, "x_center": 1024.0, "y_center": 1024.0,
             "kx_scale": 0.01, "ky_scale": 0.012, "rstep": 1.0, "cstep": 1.0}
    out, _ = append_k_axis(events_df, calib)
    pdf = out.toPandas().sort_values("row_id")
    src = events_pdf.sort_values("row_id")
    np.testing.assert_allclose(
        np.sort(pdf.kx.to_numpy()), np.sort(0.01 * (src.X.to_numpy() - 1024.0)), rtol=1e-12,
    )
    with pytest.raises(ValueError, match="calibration parameters"):
        append_k_axis(events_df, {"rstart": 0})


def test_append_k_axis_prefers_corrected(spark):
    df = spark.createDataFrame([(1.0, 2.0, 10.0, 20.0)], "X double, Y double, Xm double, Ym double")
    calib = {"rstart": 0.0, "cstart": 0.0, "x_center": 0.0, "y_center": 0.0,
             "kx_scale": 1.0, "ky_scale": 1.0, "rstep": 1.0, "cstep": 1.0}
    out, _ = append_k_axis(df, calib)
    row = out.collect()[0]
    assert row["kx"] == 10.0 and row["ky"] == 20.0  # used Xm/Ym


def test_map_coordinates_bilinear_matches_manual():
    grid = np.arange(16, dtype=float).reshape(4, 4)
    rows = np.array([0.5, 1.25, 3.0])
    cols = np.array([0.5, 2.75, 3.0])
    out = map_coordinates_bilinear(grid, rows, cols)
    # manual bilinear
    def bil(r, c):
        r0, c0 = int(np.floor(r)), int(np.floor(c))
        fr, fc = r - r0, c - c0
        def at(rr, cc):
            return grid[rr, cc] if 0 <= rr < 4 and 0 <= cc < 4 else 0.0
        return ((1-fr)*(1-fc)*at(r0, c0) + (1-fr)*fc*at(r0, c0+1)
                + fr*(1-fc)*at(r0+1, c0) + fr*fc*at(r0+1, c0+1))
    np.testing.assert_allclose(out, [bil(*p) for p in zip(rows, cols)])


def test_apply_dfield_identity(events_df, events_pdf):
    """An identity deformation field returns the original coordinates
    (up to grid resolution)."""
    h = w = 256
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float), indexing="ij")
    dfield = np.stack([rr, cc])  # identity: cell (r,c) -> (r,c)
    # sort on the UNIQUE (file_id, row_id) key: row_id repeats across the 4
    # files, and positional tie alignment would only hold while the UDF
    # happens to preserve input order
    out = apply_dfield(
        events_df, dfield, detector_ranges=((0, 2048), (0, 2048)),
    ).toPandas().sort_values(["file_id", "row_id"])
    src = events_pdf.sort_values(["file_id", "row_id"])
    # events are in [0,2048], grid is 256 cells of step 8: lookup at raw
    # coordinate (unit = grid index) — only coords < 256 land inside
    inside = (src.X < 255) & (src.Y < 255)
    step = 2048 / 256
    np.testing.assert_allclose(
        pdf_sel(out, inside).Xm.to_numpy(), src.X[inside].to_numpy() * step, rtol=1e-9,
    )


def pdf_sel(pdf, mask):
    return pdf[mask.to_numpy()]


def test_apply_dfield_bad_shape(events_df):
    with pytest.raises(ValueError, match="shape"):
        apply_dfield(events_df, np.zeros((3, 4, 4)))


def test_generate_inverse_dfield_identity_roundtrip():
    h = w = 64
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float), indexing="ij")
    inv = generate_inverse_dfield(rr, cc, ((0, h), (0, w)), ((0, h), (0, w)))
    np.testing.assert_allclose(inv[0], rr, atol=1e-9)
    np.testing.assert_allclose(inv[1], cc, atol=1e-9)


def test_generate_inverse_dfield_shift():
    """Forward shift by +3 rows inverts to -3 rows (interior cells);
    bin == detector == grid extent is the degenerate identity raster."""
    h = w = 64
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float), indexing="ij")
    inv = generate_inverse_dfield(
        rr + 3, cc, bin_ranges=((0, h), (0, w)), detector_ranges=((0, h), (0, w)),
    )
    np.testing.assert_allclose(inv[0][10:50, 10:50], rr[10:50, 10:50] - 3, atol=1e-6)


def test_generate_inverse_dfield_scaled_units():
    """Binned grid smaller than the detector (the standard mpes shape):
    the inverse field must raster over DETECTOR pixels with binned-axis
    values, so apply_dfield's raw-coordinate lookups come back in detector
    units — an identity forward field round-trips X within one bin step."""
    h = w = 64
    det = 256  # 4x binning
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float), indexing="ij")
    inv = generate_inverse_dfield(
        rr, cc, bin_ranges=((0, det), (0, det)), detector_ranges=((0, det), (0, det)),
    )
    assert inv.shape == (2, det, det)
    xs = np.linspace(20.0, det - 20.0, 9)
    from sed_binning_spark.calibration.momentum import map_coordinates_bilinear

    got = map_coordinates_bilinear(inv[0], xs, xs)
    np.testing.assert_allclose(got, xs, atol=det / h)  # one bin step


# ------------------------------------------------------------------ delay M11
def test_mm_to_ps():
    np.testing.assert_allclose(mm_to_ps(np.array([1.5, 3.0]), 1.5), [0.0, 10.0])


def test_append_delay_axis(events_df, events_pdf):
    calib = {"adc_range": (2000.0, 20000.0), "delay_range": (-5.0, 5.0)}
    out, _ = append_delay_axis(events_df, calib)
    pdf = out.toPandas().sort_values("row_id")
    src = events_pdf.sort_values("row_id")
    oracle = -5.0 + (src.ADC.to_numpy() - 2000.0) * (10.0 / 18000.0)
    np.testing.assert_allclose(np.sort(pdf.delay.to_numpy()), np.sort(oracle), rtol=1e-12)


def test_append_delay_axis_mm_form(events_df):
    calib = {"adc_range": (0.0, 100.0), "delay_range_mm": (1.5, 3.0), "time0": 1.5}
    out, meta = append_delay_axis(events_df, calib)
    assert meta["calibration"]["delay_range"] == (0.0, 10.0)
    with pytest.raises(NotImplementedError, match="Not enough parameters"):
        append_delay_axis(events_df, {"adc_range": (0, 1)})
    with pytest.raises(NotImplementedError, match="Not enough parameters"):
        append_delay_axis(events_df, {"delay_range": (0, 1)})


def test_delay_offsets_flip_last(spark):
    """Reference order: offsets, then constant, THEN negate (delay.py:362-370)
    -> -(delay + offset + constant). The r1 ADVICE fix."""
    df = spark.createDataFrame([(1.0, 10.0)], "delay double, bam double")
    out, _ = delay_add_offsets(
        df, columns="bam", weights=1.0, constant=2.0, flip_delay_axis=True,
    )
    assert out.collect()[0]["delay"] == -(1.0 + 10.0 + 2.0)


def test_energy_offsets_binding_flip(spark):
    df = spark.createDataFrame([(5.0, 1.0)], "energy double, shift double")
    out, _ = energy_add_offsets(
        df, columns="shift", weights=1.0, constant=2.0, energy_scale="binding",
    )
    assert out.collect()[0]["energy"] == 5.0 - 1.0 - 2.0


# ------------------------------------------------------------------ F4 fits
def test_poly_energy_calibration_recovers_poly():
    """Synthetic bias series generated FROM a known poly is recovered.

    Bias convention (energy.py:2306-2310): vals_ref - vals_i = E_ref - E_i
    ... i.e. T a = b with b the differential bias, so vals_i = -E_i + const
    reproduces the poly exactly."""
    true_a = [2e-9, -3e-5]
    e0 = -10.0
    tof = np.linspace(60000, 90000, 8)
    energies = tof2evpoly_np(true_a, e0, tof)
    vals = 30.0 - energies  # arbitrary constant bias offset
    calib = poly_energy_calibration(
        tof, vals, order=2, ref_id=0, ref_energy=float(energies[0]), t=tof,
    )
    np.testing.assert_allclose(calib["coeffs"], [-a for a in true_a], rtol=1e-6)
    # E0 pins the ref feature: axis[ref] == ref_energy
    np.testing.assert_allclose(calib["axis"][0], energies[0], rtol=1e-9)


def test_fit_energy_calibration_recovers_model():
    """Positions generated from the tof2ev model are fit back (F4); the
    returned (d, t0) are in SECONDS, directly consumable by tof2ev."""
    d_true, t0_true, e0_true = 1.1, 1.0e-7, -5.0  # d in m, t0 in s (physical)
    binwidth, binning = 4.125e-12, 1
    binw = binwidth * 2**binning
    pos = np.linspace(65000, 90000, 10)
    t_s = pos * binw
    energies = _TOF2EV_CONST * (d_true / (t_s - t0_true)) ** 2 + e0_true
    # default ref_id=0 (the reference's default): ref_energy names the
    # FIRST landmark's energy
    calib = fit_energy_calibration(
        pos, energies, binwidth, binning, ref_energy=float(energies[0]),
    )
    model = _TOF2EV_CONST * (calib["d"] / (t_s - calib["t0"])) ** 2 + calib["E0"]
    np.testing.assert_allclose(model, energies, rtol=1e-4)


def test_poly_energy_calibration_negative_ref_id():
    """ref_id=-1 means 'last trace' (valid scalar index in the reference);
    the slice-based pin must not silently produce an empty array."""
    pos = np.linspace(65000, 90000, 8)
    vals = 30.0 - 0.5 * np.arange(8)
    calib = poly_energy_calibration(pos, vals, order=2, ref_id=-1, ref_energy=10.0)
    assert np.isfinite(calib["E0"])


def test_align_dld_sectors_id_bounds(spark):
    """Negative ids wrap numpy-style (delays[-2] = 7th element); ids beyond
    [-n, n-1] fail loudly instead of silently NULLing the TOF."""
    import pandas as pd
    from pyspark.errors import SparkRuntimeException

    delays = [float(i) for i in range(8)]
    pdf = pd.DataFrame({"t": [100.0, 100.0], "dldSectorID": np.array([-2, 3], dtype="int32")})
    out, _ = align_dld_sectors(spark.createDataFrame(pdf), delays, tof_column="t")
    got = {int(r["dldSectorID"]): float(r["t"]) for r in out.collect()}
    assert got == {-2: 100.0 - 6.0, 3: 100.0 - 3.0}

    bad = pd.DataFrame({"t": [1.0], "dldSectorID": np.array([8], dtype="int32")})
    out_bad, _ = align_dld_sectors(spark.createDataFrame(bad), delays, tof_column="t")
    with pytest.raises(SparkRuntimeException, match="out of range"):
        out_bad.collect()


def test_poly_energy_calibration_rejects_far_negative_ref_id():
    pos = np.linspace(65000, 90000, 8)
    vals = 30.0 - 0.5 * np.arange(8)
    with pytest.raises(ValueError, match="out of range"):
        poly_energy_calibration(pos, vals, order=2, ref_id=-20, ref_energy=10.0)


def test_tof2ev_pole_yields_null_not_job_abort(spark):
    """An event whose TOF lands exactly on the t0 pole must not abort the
    job under ANSI mode: it gets NULL energy (the reference's numpy gives
    inf there — garbage either way, but the job survives)."""
    binw, binning, t0 = 4.125e-12, 1, 1e-7
    pole_t = t0 / (binw * 2**binning)
    assert pole_t * binw * 2**binning == t0  # exact pole is constructible
    df = spark.createDataFrame([(pole_t,), (60000.0,)], "t double")
    out, _ = append_energy_axis(
        df, {"d": 1.0, "t0": t0, "E0": 0.0, "binwidth": binw,
             "binning": binning, "calib_type": "fit"},
    )
    pdf = out.toPandas().set_index("t")
    assert np.isnan(pdf.loc[pole_t, "energy"]) or pdf.loc[pole_t, "energy"] is None
    assert np.isfinite(pdf.loc[60000.0, "energy"])


def test_bilinear_grid_pair_matches_general_sampler():
    """The separable tensor-product sampler used by generate_inverse_dfield
    must be BIT-identical to the general per-point path it replaced
    (r14 optimization): same weight products, same accumulation order,
    same off-grid zeroing and NaN-out mask."""
    from sed_binning_spark.calibration.momentum import (
        _bilinear_grid_pair_or_nan,
        _bilinear_or_nan,
    )

    rng = np.random.default_rng(11)
    ga = rng.normal(size=(37, 29))
    gb = rng.normal(size=(37, 29))
    ga[4:7, 8:11] = np.nan  # NaN grid values near the gather path
    # axis rasters spanning inside, outside, fractional and NaN coords
    gi = np.concatenate([np.linspace(-2.0, 38.0, 61), [np.nan]])
    gj = np.linspace(-1.5, 30.5, 47)
    gri, gcj = np.meshgrid(gi, gj, indexing="ij")
    want_a = _bilinear_or_nan(ga, gri.ravel(), gcj.ravel()).reshape(gi.size, gj.size)
    want_b = _bilinear_or_nan(gb, gri.ravel(), gcj.ravel()).reshape(gi.size, gj.size)
    got_a, got_b = _bilinear_grid_pair_or_nan(ga, gb, gi, gj)
    sentinel = -1.2345e300
    assert np.array_equal(np.where(np.isnan(want_a), sentinel, want_a),
                          np.where(np.isnan(got_a), sentinel, got_a))
    assert np.array_equal(np.where(np.isnan(want_b), sentinel, want_b),
                          np.where(np.isnan(got_b), sentinel, got_b))


def test_generate_inverse_dfield_sparse_relaxation_pin():
    """The sparse hole-relaxation (r14) must reproduce the historical
    full-raster roll-based Jacobi fill bit-for-bit, including NaN cells
    outside the data hull."""
    from sed_binning_spark.calibration.momentum import (
        _dilate4,
        _erode4,
        generate_inverse_dfield,
    )

    rng = np.random.default_rng(3)
    fr = np.add.outer(np.arange(64.0), np.zeros(64)) + rng.normal(0, 2, (64, 64))
    fc = np.add.outer(np.zeros(64), np.arange(64.0)) + rng.normal(0, 2, (64, 64))
    fr[5:9, 10:14] = np.nan
    bin_ranges = ((10, 50), (5, 60))
    detector_ranges = ((8, 128), (16, 200))

    got = generate_inverse_dfield(
        fr, fc, bin_ranges=bin_ranges, detector_ranges=detector_ranges,
    )

    # historical roll-based fill applied to the same deposit
    def roll_fill(inv, fillable, out_w):
        for plane in (0, 1):
            g = inv[plane]
            for _ in range(8):
                holes = np.isnan(g) & fillable
                if not holes.any():
                    break
                acc = np.zeros_like(g)
                cnt = np.zeros_like(g)
                for shift_ax, shift in ((0, 1), (0, -1), (1, 1), (1, -1)):
                    nb = np.roll(g, shift, axis=shift_ax)
                    if shift_ax == 0 and shift == 1:
                        nb[0, :] = np.nan
                    elif shift_ax == 0:
                        nb[-1, :] = np.nan
                    elif shift == 1:
                        nb[:, 0] = np.nan
                    else:
                        nb[:, -1] = np.nan
                    good = ~np.isnan(nb)
                    acc[good] += nb[good]
                    cnt[good] += 1
                can_fill = holes & (cnt > 0)
                g[can_fill] = acc[can_fill] / cnt[can_fill]
            inv[plane] = g
        return inv

    # rebuild the pre-relaxation deposit inline (same steps as the
    # function), then apply the historical roll fill to it
    h, w = fr.shape
    out_h = int(detector_ranges[0][1])
    out_w = int(detector_ranges[1][1])
    det_r0 = float(detector_ranges[0][0])
    det_c0 = float(detector_ranges[1][0])
    bin_step_r = (bin_ranges[0][1] - bin_ranges[0][0]) / h
    bin_step_c = (bin_ranges[1][1] - bin_ranges[1][0]) / w
    from sed_binning_spark.calibration.momentum import _bilinear_grid_pair_or_nan
    gi = det_r0 + np.arange(out_h) * (h - det_r0) / out_h
    gj = det_c0 + np.arange(out_w) * (w - det_c0) / out_w
    gri, gcj = np.meshgrid(gi, gj, indexing="ij")
    fr2, fc2 = _bilinear_grid_pair_or_nan(
        np.asarray(fr, float), np.asarray(fc, float), gi, gj,
    )
    key_r = fr2 + bin_ranges[0][0] / bin_step_r
    key_c = fc2 + bin_ranges[1][0] / bin_step_c
    finite = np.isfinite(fr2) & np.isfinite(fc2)
    with np.errstate(invalid="ignore"):
        tr = np.where(finite, np.rint((key_r - det_r0) * out_h / (h - det_r0)), -1).astype(np.int64)
        tc = np.where(finite, np.rint((key_c - det_c0) * out_w / (w - det_c0)), -1).astype(np.int64)
    dest_r = bin_step_r * gri + bin_ranges[0][0]
    dest_c = bin_step_c * gcj + bin_ranges[1][0]
    inv = np.full((2, out_h, out_w), np.nan)
    ok = (tr >= 0) & (tr < out_h) & (tc >= 0) & (tc < out_w) & finite
    flat = tr[ok] * out_w + tc[ok]
    n_cells = out_h * out_w
    sums_r = np.bincount(flat, weights=dest_r[ok], minlength=n_cells).reshape(out_h, out_w)
    sums_c = np.bincount(flat, weights=dest_c[ok], minlength=n_cells).reshape(out_h, out_w)
    counts = np.bincount(flat, minlength=n_cells).reshape(out_h, out_w)
    filled = counts > 0
    inv[0][filled] = sums_r[filled] / counts[filled]
    inv[1][filled] = sums_c[filled] / counts[filled]
    closed = filled
    for _ in range(2):
        closed = _dilate4(closed)
    for _ in range(2):
        closed = _erode4(closed)
    want = roll_fill(inv, closed & ~filled, out_w)

    sentinel = -1.2345e300
    assert np.array_equal(np.where(np.isnan(want), sentinel, want),
                          np.where(np.isnan(got), sentinel, got))


def _whole_raster_inverse(fr, fc, bin_ranges, detector_ranges):
    """Serial whole-raster twin of generate_inverse_dfield: per-point
    sampler over full meshgrid rasters, one deposit, then the historical
    roll-based hole fill."""
    from sed_binning_spark.calibration.momentum import _bilinear_or_nan, _dilate4, _erode4

    h, w = fr.shape
    out_h = int(detector_ranges[0][1])
    out_w = int(detector_ranges[1][1])
    det_r0 = float(detector_ranges[0][0])
    det_c0 = float(detector_ranges[1][0])
    bin_step_r = (bin_ranges[0][1] - bin_ranges[0][0]) / h
    bin_step_c = (bin_ranges[1][1] - bin_ranges[1][0]) / w
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    if (out_h, out_w) != (h, w) or det_r0 or det_c0:
        gi = det_r0 + np.arange(out_h) * (h - det_r0) / out_h
        gj = det_c0 + np.arange(out_w) * (w - det_c0) / out_w
        rr, cc = np.meshgrid(gi, gj, indexing="ij")
        fr = _bilinear_or_nan(fr, rr.ravel(), cc.ravel()).reshape(out_h, out_w)
        fc = _bilinear_or_nan(fc, rr.ravel(), cc.ravel()).reshape(out_h, out_w)
    key_r = fr + bin_ranges[0][0] / bin_step_r
    key_c = fc + bin_ranges[1][0] / bin_step_c
    finite = np.isfinite(fr) & np.isfinite(fc)
    with np.errstate(invalid="ignore"):
        tr = np.where(finite, np.rint((key_r - det_r0) * out_h / (h - det_r0)), -1).astype(np.int64)
        tc = np.where(finite, np.rint((key_c - det_c0) * out_w / (w - det_c0)), -1).astype(np.int64)
    dest_r = bin_step_r * rr + bin_ranges[0][0]
    dest_c = bin_step_c * cc + bin_ranges[1][0]
    ok = (tr >= 0) & (tr < out_h) & (tc >= 0) & (tc < out_w) & finite
    flat = tr[ok] * out_w + tc[ok]
    n_cells = out_h * out_w
    sums_r = np.bincount(flat, weights=dest_r[ok], minlength=n_cells).reshape(out_h, out_w)
    sums_c = np.bincount(flat, weights=dest_c[ok], minlength=n_cells).reshape(out_h, out_w)
    counts = np.bincount(flat, minlength=n_cells).reshape(out_h, out_w)
    filled = counts > 0
    inv = np.full((2, out_h, out_w), np.nan)
    inv[0][filled] = sums_r[filled] / counts[filled]
    inv[1][filled] = sums_c[filled] / counts[filled]
    closed = filled
    for _ in range(2):
        closed = _dilate4(closed)
    for _ in range(2):
        closed = _erode4(closed)
    fillable = closed & ~filled
    for g in inv:
        for _ in range(8):
            holes = np.isnan(g) & fillable
            if not holes.any():
                break
            acc = np.zeros_like(g)
            cnt = np.zeros_like(g)
            for ax, shift in ((0, 1), (0, -1), (1, 1), (1, -1)):
                nb = np.roll(g, shift, axis=ax)
                edge = 0 if shift == 1 else -1
                if ax == 0:
                    nb[edge, :] = np.nan
                else:
                    nb[:, edge] = np.nan
                good = ~np.isnan(nb)
                acc[good] += nb[good]
                cnt[good] += 1
            can_fill = holes & (cnt > 0)
            g[can_fill] = acc[can_fill] / cnt[can_fill]
    return inv


def _compressed_field(h, w, nan_rows, seed):
    """A noisy forward field that squeezes rows and columns together, so
    most target cells collect several deposits from different source rows
    (and so from different bands), with whole NaN source rows."""
    rng = np.random.default_rng(seed)
    fr = np.add.outer(0.7 * np.arange(h) + 2.0, np.zeros(w)) + rng.normal(0, 0.8, (h, w))
    fc = np.add.outer(np.zeros(h), 0.8 * np.arange(w) + 1.0) + rng.normal(0, 0.8, (h, w))
    fr[list(nan_rows), :] = np.nan
    return fr, fc


# (field shape, NaN field rows, bin_ranges, detector_ranges). Upsampled:
# 40 x 30 output rows from a 23 x 17 field with detector offsets; field row
# r feeds output rows near 2 * (r - 3), so NaN rows 9 and 13 straddle the
# 3-band edge 13 and the 2-band edge 20. Identity: output raster == field,
# NaN row 7 ends the first of 3 bands and row 12 starts the second of 2.
_INV_CASES = {
    "upsampled": ((23, 17), (9, 13), ((10, 50), (5, 60)), ((3, 40), (2, 30))),
    "identity": ((24, 18), (7, 12), ((4, 44), (-3, 33)), ((0, 24), (0, 18))),
}


@pytest.mark.parametrize("case", sorted(_INV_CASES))
@pytest.mark.parametrize("cpus, band_cells, n_bands", [
    (1, 1 << 40, 1),       # one band
    (1, None, 2),          # two bands
    (1, None, 3),          # an odd band count
    (3, None, 5),          # more threads, odd count
    (2, 1, None),          # more bands asked for than there are rows
])
def test_generate_inverse_dfield_bands_match_whole_raster(monkeypatch, case, cpus,
                                                          band_cells, n_bands):
    """The row-banded, threaded deposit must give exactly the field of one
    serial whole-raster pass for any band split: band outputs concatenate
    in row order, so every weighted sum accumulates in the same order."""
    from sed_binning_spark.calibration import momentum

    (h, w), nan_rows, bin_ranges, detector_ranges = _INV_CASES[case]
    out_h, out_w = detector_ranges[0][1], detector_ranges[1][1]
    if band_cells is None:  # the budget that splits the raster n_bands ways
        band_cells = -(-out_h * out_w * cpus // n_bands)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.setattr(momentum, "_INV_BAND_CELLS", band_cells)
    bounds = momentum._row_bands(out_h, out_w, cpus)
    assert len(bounds) - 1 == (n_bands or out_h)
    assert bounds[0] == 0 and bounds[-1] == out_h and np.all(np.diff(bounds) > 0)

    fr, fc = _compressed_field(h, w, nan_rows, seed=h)
    want = _whole_raster_inverse(fr, fc, bin_ranges, detector_ranges)
    got = generate_inverse_dfield(fr, fc, bin_ranges=bin_ranges,
                                  detector_ranges=detector_ranges)
    assert np.isnan(got).any() and np.isfinite(got).sum() > got.size // 2
    assert np.array_equal(got, want, equal_nan=True)


def test_dfield_lookup_udf_reads_module_grid_cache(tmp_path, monkeypatch):
    """apply_dfield's UDF body, shipped the way Spark ships it (cloudpickle),
    must load the grid through the worker module's own bounded cache, not
    through a by-value copy of the cache that every task unpickles empty."""
    import pandas as pd
    from pyspark import SparkFiles, cloudpickle

    from sed_binning_spark.calibration import momentum

    monkeypatch.setattr(momentum, "_DFIELD_GRID_CACHE", {})
    monkeypatch.setattr(SparkFiles, "get", staticmethod(lambda name: str(tmp_path / name)))
    grid = np.stack([np.add.outer(np.arange(4.0), np.zeros(5)),
                     np.add.outer(np.zeros(4), np.arange(5.0))])
    names = [f"sed_dfield_cache_{i}.npy" for i in range(momentum._DFIELD_GRID_CACHE_MAX + 1)]
    for name in names:
        np.save(tmp_path / name, grid)

    shipped = cloudpickle.loads(cloudpickle.dumps(momentum._dfield_lookup_fn(names[0], 2.0, 3.0)))
    out = shipped(pd.Series([1.0, 2.5]), pd.Series([3.0, 0.5]))
    np.testing.assert_array_equal(out["x"], [2.0, 5.0])
    np.testing.assert_array_equal(out["y"], [9.0, 1.5])
    assert list(momentum._DFIELD_GRID_CACHE) == names[:1]
    cached = momentum._DFIELD_GRID_CACHE[names[0]]
    shipped(pd.Series([0.0]), pd.Series([0.0]))
    assert momentum._DFIELD_GRID_CACHE[names[0]] is cached

    # bounded: one more field than the cap evicts the oldest
    for name in names[1:]:
        momentum._dfield_grid(name)
    assert list(momentum._DFIELD_GRID_CACHE) == names[1:]
