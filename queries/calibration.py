"""Calibration queries: energy axes and correction profiles, DLD sector
alignment, momentum and delay axes with the momentum-fit estimators, the
bias-series normalization and the distortion-field correction."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from queries import query
from queries._common import _EV_SQL, _events
from sed_binning_spark.binning.expressions import bin_index_sql
from sed_binning_spark.calibration.delay import add_offsets as delay_add_offsets
from sed_binning_spark.calibration.delay import append_delay_axis, delay_sql
from sed_binning_spark.calibration.energy import (
    align_dld_sectors, append_energy_axis, append_tof_ns_axis, apply_energy_correction,
    tof2ev_sql,
)
from sed_binning_spark.calibration.momentum import append_k_axis, apply_dfield, k_coordinate_sql
from sed_binning_spark.sqlgen import fsql


# sector delays for the M7 query (literals shared by both engines)
_SECTOR_DELAYS = [0.0, 1.5, -2.0, 3.25, 0.5, -0.75, 2.0, -1.25]

# momentum calibration literals (M10)
_K_CALIB = {
    "rstart": 0.0, "cstart": 0.0, "x_center": 1024.0, "y_center": 1024.0,
    "kx_scale": 0.0102, "ky_scale": 0.0097, "rstep": 1.0, "cstep": 1.0,
}

# F5/F6 probe landmarks: a distorted integer-pixel hexagon whose centroid
# is exactly (32, 32), plus that center as the 7th spike for the F5 image.
# Spacing > 2x the detection radius so each spike is the strict maximum of
# its own neighborhood.
_F56_FEATURES = [
    (12, 32), (22, 49), (42, 50), (52, 32), (42, 14), (22, 15), (32, 32),
]

# delay calibration literals (M11)
_DELAY_CALIB = {"adc_range": (2000.0, 20000.0), "delay_range": (-5.0, 5.0)}

# energy calibration literals (M3/M4)
_E_FIT = {"d": 1.0, "t0": 1e-7, "E0": 20.0, "binwidth": 4.125e-12,
          "binning": 1, "energy_scale": "kinetic", "calib_type": "fit"}
_E_POLY_COEFFS = [1.2e-13, -2.4e-8, 3.1e-4]  # highest order first
_E_POLY_E0 = -7.5


def _energy_axes_sql() -> str:
    e = _E_FIT
    energy_fit_sql = tof2ev_sql(
        "t", e["d"], e["t0"], e["binwidth"], e["binning"], e["energy_scale"], e["E0"],
    )
    # poly accumulation in the same ascending order as tof2evpoly_expr
    asc = list(np.asarray(_E_POLY_COEFFS, dtype=float)[::-1])
    poly_sql = "0.0"
    power = "CAST(t AS DOUBLE)"
    for a in asc:
        poly_sql = f"{poly_sql} + {fsql(a)} * ({power})"
        power = f"({power}) * CAST(t AS DOUBLE)"
    poly_sql = f"{poly_sql} + {fsql(_E_POLY_E0)}"
    return (
        f"SELECT event_id, {energy_fit_sql} AS e_fit, {poly_sql} AS e_poly, "
        f"CAST(t AS DOUBLE) * 1e9 * 4.125e-12 * 2.0 AS t_ns FROM ({_EV_SQL})"
    )


@query("energy_axes", oracle=_energy_axes_sql)
def _q_energy_axes(spark, sf):
    """M3 + M4 + M5 merged: fit-form energy, poly-form energy, and TOF→ns
    from the same events frame — three independent calibrated axes, one
    oracle row."""
    ev, _ = append_energy_axis(_events(spark, sf), _E_FIT, energy_column="e_fit")
    ev, _ = append_energy_axis(
        ev,
        {"coeffs": _E_POLY_COEFFS, "E0": _E_POLY_E0, "calib_type": "poly"},
        energy_column="e_poly",
    )
    ev, _ = append_tof_ns_axis(ev, binwidth=4.125e-12, binning=1)
    return ev.select("event_id", "e_fit", "e_poly", "t_ns")


def _corr_profiles_sql() -> str:
    # correction kernels, mirroring correction_expr's tree
    dx = "(X - 1024.0)"
    dy = "(Y - 1024.0)"
    sph = (f"-((1.0 - sqrt(1.0 - ({dx} * {dx} + {dy} * {dy}) / {fsql(3000.0 ** 2)})) "
           f"* {fsql(100.0 * 2.5)})")
    g = 700.0
    lor = (f"{fsql(100000.0 * 2.5 / (g * np.pi))} * ({fsql(g ** 2)} / "
           f"({dx} * {dx} + {dy} * {dy} + {fsql(g ** 2)}) - 1.0)")
    sig = 700.0
    gauss = (f"{fsql(20000.0 * 2.5 / np.sqrt(2 * np.pi * sig ** 2))} * "
             f"(exp(-({dx} * {dx} + {dy} * {dy}) / {fsql(2 * sig ** 2)}) - 1.0)")
    g2, a2 = 500.0, 1.5
    # parenthesized as ONE sum: the engine evaluates t + (c_y + c_x); an
    # unparenthesized twin would associate (t + c_y) + c_x — off by 1 ulp
    asym = (f"({fsql(100000.0 * 2.5 / (g * np.pi))} * ({fsql(g ** 2)} / "
            f"({dy} * {dy} + {fsql(g ** 2)}) - 1.0) + "
            f"{fsql(100000.0 * a2 / (g2 * np.pi))} * ({fsql(g2 ** 2)} / "
            f"({dx} * {dx} + {fsql(g2 ** 2)}) - 1.0))")
    return (
        f"SELECT event_id, t + {sph} AS tm_sph, t + {lor} AS tm_lor, "
        f"round(t + {gauss}, 6) AS tm_gauss, t + {asym} AS tm_asym "
        f"FROM ({_EV_SQL})"
    )


@query("corr_profiles", oracle=_corr_profiles_sql)
def _q_corr_profiles(spark, sf):
    """M6: all four closed-form energy-correction profiles (reference
    correction_function, sed/calibrator/energy.py:1670-1782) in one query —
    spherical / Lorentzian / Lorentzian_asymmetric are pure arithmetic
    (+ correctly-rounded sqrt), bit-exact cross-engine; the Gaussian uses
    exp (not correctly rounded in every libm) so its output rounds to 6
    decimals on both sides."""
    ev = _events(spark, sf)
    center = (1024.0, 1024.0)
    ev, _ = apply_energy_correction(
        ev, {"correction_type": "spherical", "center": center,
             "amplitude": 2.5, "diameter": 3000.0},
        new_tof_column="tm_sph",
    )
    ev, _ = apply_energy_correction(
        ev, {"correction_type": "Lorentzian", "center": center,
             "amplitude": 2.5, "gamma": 700.0},
        new_tof_column="tm_lor",
    )
    ev, _ = apply_energy_correction(
        ev, {"correction_type": "Gaussian", "center": center,
             "amplitude": 2.5, "sigma": 700.0},
        new_tof_column="tm_gauss",
    )
    ev, _ = apply_energy_correction(
        ev, {"correction_type": "Lorentzian_asymmetric", "center": center,
             "amplitude": 2.5, "gamma": 700.0, "gamma2": 500.0,
             "amplitude2": 1.5},
        new_tof_column="tm_asym",
    )
    return ev.select(
        "event_id", "tm_sph", "tm_lor",
        F.round("tm_gauss", 6).alias("tm_gauss"), "tm_asym",
    )


# M7: sector alignment
@query("sector_align", oracle=lambda: (
    f"SELECT event_id, CAST(t - [{', '.join(fsql(d) for d in _SECTOR_DELAYS)}]"
    f"[CAST(event_id % 8 AS INTEGER) + 1] AS REAL) AS t_aligned FROM ({_EV_SQL})"
))
def _q_sector_align(spark, sf):
    ev = _events(spark, sf).withColumn(
        "dldSectorID", (F.col("event_id") % 8).cast("int"),
    )
    ev, _ = align_dld_sectors(
        ev, _SECTOR_DELAYS, tof_column="t", sector_id_column="dldSectorID",
    )
    return ev.select("event_id", F.col("t").alias("t_aligned"))


def _k_axis_sql() -> str:
    kx_sql, ky_sql = k_coordinate_sql("X", "Y", **_K_CALIB)

    # F5-F8 twins: expected values recomputed here from the probe
    # CONSTRUCTION with plain numpy arithmetic (centroid, arctan2 sort,
    # rotation matrices) — independent of peakdetect2d/pointset_order/
    # rot_vertex_generator/tps_fit, which is the point of the check.
    def _csvf(a):
        return ",".join(f"{v:.6f}" for v in np.asarray(a, float).ravel())

    _pts = np.asarray(_F56_FEATURES, dtype=float)
    _feat_lit = _csvf(sorted(map(tuple, _pts)))  # row-major scan order
    _cen = _pts[:6].mean(axis=0)
    _outer = _pts[:6][np.argsort(
        np.arctan2(_pts[:6, 1] - _cen[1], _pts[:6, 0] - _cen[0]),
    )]
    _v0 = _outer[0] - _cen
    _targ_lit = _csvf([
        _cen + np.array([
            [np.cos(2 * np.pi * k / 6), -np.sin(2 * np.pi * k / 6)],
            [np.sin(2 * np.pi * k / 6), np.cos(2 * np.pi * k / 6)],
        ]) @ _v0
        for k in range(6)
    ] + [_cen])
    _tps_lit = _csvf(np.vstack([_outer, _cen]))
    # hand-derived inverse maps at probes (10,20)/(40,50), 64x64 image,
    # center (31.5, 31.5): translation (r-3, c+2); scale 2 pulls halfway
    # to the center; rotation 90 deg swaps the centered offsets
    _pose_lit = _csvf([
        7, 22, 37, 52,
        20.75, 25.75, 35.75, 40.75,
        43, 10, 13, 40,
    ])

    # F9 twin: FROZEN expected constants of the two-point momentum
    # calibration (point_a=(308,345), point_b=(256,256), k_distance=1.8,
    # k_coord_b=(0.2,-0.1), shape=(512,512), bin_ranges=((0,2048),)*2) —
    # kx_scale = 1.8/hypot(52, 89), x_center = 256 - 0.2/scale, r_det0 =
    # rstep*x_center — written as literals, NOT derived by calling the
    # estimator, so the Spark side's query-time fit is actually checked
    kx2_sql, ky2_sql = k_coordinate_sql(
        "X", "Y",
        rstart=0.0, cstart=0.0,
        x_center=244.5469288177287, y_center=261.72653559113564,
        kx_scale=0.017462565002615973, ky_scale=0.017462565002615973,
        rstep=4.0, cstep=4.0,
    )
    return (
        f"SELECT event_id, {kx_sql} AS kx, {ky_sql} AS ky, "
        f"{kx2_sql} AS kx2, {ky2_sql} AS ky2, "
        f"'{_feat_lit}' AS feat_csv, '{_targ_lit}' AS targ_csv, "
        f"'{_tps_lit}' AS tps_csv, '{_pose_lit}' AS pose_csv, "
        f"TRUE AS invd_ok FROM ({_EV_SQL})"
    )


@query("k_axis", oracle=_k_axis_sql)
def _q_k_axis(spark, sf):
    """M10 (kx/ky from the literal calibration dict) merged with F9: a
    SECOND axis pair (kx2/ky2) whose calibration dict is produced AT
    QUERY TIME by the two-point estimator
    (calibration.momentum_fit.calibrate_momentum — equiscale scale from
    the symmetry-point distance, centers back-derived from k_coord_b,
    rstart/rstep from bin_ranges). The oracle's kx2/ky2 use FROZEN
    expected constants written as literals in the SQL text — deliberately
    not derived by calling the estimator — so any regression in the
    two-point solve moves the Spark columns off the frozen values and
    fails the hash.

    The remaining momentum-fit estimators ride as constant VALUE columns
    (computed once at query-build time; oracle literals derived from the
    CONSTRUCTION with plain trigonometry, never by calling the code
    under test):

    - F5 ``feat_csv``: peakdetect2d over a synthetic spike image must
      return exactly the spike pixels, in scan order.
    - F6 ``targ_csv``/``tps_csv``: spline_warp_estimate's ideal target
      set must be the hand-rotated hexagon (pins pointset ordering +
      rot_vertex_generator), and the fitted thin-plate spline evaluated
      AT the targets must reproduce the sources exactly (TPS
      interpolates its landmarks — pins tps_fit/tps_eval).
    - F7 ``pose_csv``: the pose-adjustment deformation fields probed at
      two pixels under pure translation / scaling / rotation must equal
      the closed-form inverse maps.
    - F8 ``invd_ok``: the scatter-and-relax inverse of a translation
      deformation field must invert it within the e2e 2 px tolerance.
    """
    from sed_binning_spark.calibration.momentum import generate_inverse_dfield
    from sed_binning_spark.calibration.momentum_fit import (
        calibrate_momentum,
        peakdetect2d,
        pose_adjustment,
        spline_warp_estimate,
        tps_eval,
        tps_fit,
    )

    ev, _ = append_k_axis(_events(spark, sf), _K_CALIB)
    cal2 = calibrate_momentum(
        point_a=(308.0, 345.0), point_b=(256.0, 256.0), k_distance=1.8,
        k_coord_b=(0.2, -0.1), equiscale=True, shape=(512, 512),
        bin_ranges=((0.0, 2048.0), (0.0, 2048.0)),
    )
    ev, _ = append_k_axis(ev, cal2, new_x_column="kx2", new_y_column="ky2")

    def _csv(arr):
        return ",".join(f"{v:.6f}" for v in np.asarray(arr, float).ravel())

    # F5: spikes at the (distorted-hexagon + center) pixels; radius 5
    # keeps every spike the strict maximum of its own neighborhood
    feats = _F56_FEATURES
    img = np.zeros((64, 64))
    for r, c in feats:
        img[int(r), int(c)] = 100.0
    feat_csv = _csv(peakdetect2d(img, radius=5, threshold_rel=0.5))

    # F6: warp estimate over the distorted hexagon (center inferred)
    res = spline_warp_estimate(img, np.asarray(feats[:6], float), rotsym=6)
    targ_csv = _csv(res["target_points"])
    spline = tps_fit(res["target_points"], res["reference_points"])
    tps_csv = _csv(np.round(tps_eval(spline, res["target_points"]), 6) + 0.0)

    # F7: one probe pair per elementary transform
    probes = [(10, 20), (40, 50)]
    vals = []
    for kw in ({"xtrans": 3.0, "ytrans": -2.0}, {"scale": 2.0}, {"angle": 90.0}):
        pose = pose_adjustment(img, **kw)
        for r, c in probes:
            vals += [pose["rdeform_field"][r, c], pose["cdeform_field"][r, c]]
    pose_csv = _csv(np.round(np.asarray(vals), 6) + 0.0)

    # F8: inverse of the translation field maps (y, x) -> (y+3, x-2)
    rr, cc = np.meshgrid(np.arange(64.0), np.arange(64.0), indexing="ij")
    inv = generate_inverse_dfield(
        rr - 3.0, cc + 2.0, ((0, 64), (0, 64)), ((0, 64), (0, 64)),
    )
    invd_ok = bool(all(
        abs(inv[0, r, c] - (r + 3)) <= 2.0 and abs(inv[1, r, c] - (c - 2)) <= 2.0
        for r, c in ((20, 20), (30, 30), (40, 25))
    ))

    return ev.select(
        "event_id", "kx", "ky", "kx2", "ky2",
        F.lit(feat_csv).alias("feat_csv"),
        F.lit(targ_csv).alias("targ_csv"),
        F.lit(tps_csv).alias("tps_csv"),
        F.lit(pose_csv).alias("pose_csv"),
        F.lit(invd_ok).alias("invd_ok"),
    )


def _delay_calib_sql() -> str:
    d_sql = delay_sql("ADC", _DELAY_CALIB["adc_range"], _DELAY_CALIB["delay_range"])
    return (
        f"SELECT event_id, {d_sql} AS delay, "
        f"-(({d_sql}) + 0.001 * value + 2.5) AS delay_fo FROM ({_EV_SQL})"
    )


@query("delay_calib", oracle=_delay_calib_sql)
def _q_delay(spark, sf):
    """One row covers M11 AND the M12 offset chain: the calibrated delay
    plus the flipped-and-offset delay, from the same base frame (merged
    from two former rows to free a driver query slot)."""
    ev, _ = append_delay_axis(_events(spark, sf), _DELAY_CALIB)
    ev = ev.withColumn("__delay_cal", F.col("delay"))
    ev, _ = delay_add_offsets(
        ev, columns="value", weights=0.001, constant=2.5, flip_delay_axis=True,
    )
    return ev.select(
        "event_id",
        F.col("__delay_cal").alias("delay"),
        F.col("delay").alias("delay_fo"),
    )


# F1 twin: per-file histogram + per-file max normalization (the
# window max sees only in-range bins, matching normspec's cube).
# F4 twin: the lstsq calibration interpolates EXACTLY on its
# square deterministic system, so the calibrated energy at
# landmark rank r is the closed form ref_energy - 0.5*r — derived
# here by rank arithmetic alone, never by running a fit; the
# Spark side's value comes out of poly_energy_calibration +
# tof2evpoly and must land on the same 6-decimal grid. F2/F3/F10
# are TRUE-pinned contract gates (DTW identity diagonal,
# peakdetect probe apexes, real-file h5 bias attribute).
@query("bias_normspec", oracle=lambda: (
    f"WITH h AS (SELECT file_id, bin, count(*) AS cnt FROM (SELECT "
    f"file_id, {bin_index_sql('t', 120, 60000.0, 120000.0)} AS bin "
    f"FROM ({_EV_SQL})) WHERE bin IS NOT NULL GROUP BY file_id, bin), "
    f"r AS (SELECT file_id, row_number() OVER (ORDER BY file_id) - 1 "
    f"AS rk, count(*) OVER () AS nf FROM "
    f"(SELECT DISTINCT file_id FROM ({_EV_SQL}))) "
    f"SELECT h.file_id, h.bin, CAST(h.cnt AS DOUBLE) / "
    f"CAST(max(h.cnt) OVER (PARTITION BY h.file_id) AS DOUBLE) AS norm, "
    f"CASE WHEN r.rk < least(4, r.nf) "
    f"THEN round(20.0e0 - 0.5e0 * r.rk, 6) END AS cal_energy, "
    f"TRUE AS peak_ok, TRUE AS dtw_ok, TRUE AS bias_h5_ok "
    f"FROM h JOIN r ON r.file_id = h.file_id"
))
def _q_bias_normspec(spark, sf):
    """F1: bias-series traces + per-spectrum max normalization (smoothing
    off) — bin_bias_series (the A8 partition-stacked cube) feeding
    normspec on the driver, emitted as (file_id, bin, norm) rows.
    Zero-count cells are dropped to align with the sparse SQL twin. The
    cube's float32 counts are exact integers and normspec divides in
    float64, so norm is bit-identical to the oracle's double division.

    The F-family fit estimators ride the same row (merged — the 50-query
    cap):

    - F4 ``cal_energy`` is a VALUE check of the lstsq energy calibration:
      ``calibrate_energy(method='lstsq')`` runs at query-build time on
      deterministic distinct landmarks with minted biases (9 + rank/2),
      order = n-1 — a square system, so the fit interpolates EXACTLY and
      the calibrated energy at landmark i must equal
      ``ref_energy - (bias_i - bias_0)`` — which is what the oracle
      computes, by rank arithmetic, WITHOUT calling the fit. A regression
      anywhere in poly_energy_calibration / tof2evpoly / the E0 anchor
      moves the Spark value off the closed form and fails the hash.
    - F3 ``peak_ok`` gates peaksearch/peakdetect1d: on a synthetic
      triangle trace the detected peak must be exactly the apex (and the
      valley the minimum), and on every REAL trace the returned position
      must be an in-range local maximum of that trace. (The raw peak
      value itself is not oracle-expressible: peakdetect1d's
      lookahead state machine legitimately differs from SQL argmax on
      monotone-ish traces.)
    - F2 ``dtw_ok`` gates the DTW machinery: self-correspondence of every
      real trace must be the exact diagonal (tie-break prefers the
      diagonal, so this is deterministic even with repeated values), and
      range_convert through that identity path must return the range
      unchanged.
    - F10 ``bias_h5_ok`` gates extract_bias_h5 against the real mpes
      instrument fixture's @KTOF:Lens:Sample:V attribute (19.3 V).
    """
    import numpy as np

    from sed_binning_spark.calibration.fitting import (
        bin_bias_series,
        calibrate_energy,
        extract_bias_h5,
        find_correspondence,
        normspec,
        peakdetect1d,
        peaksearch,
        range_convert,
    )

    ev = _events(spark, sf)
    ids = [r[0] for r in ev.select("file_id").distinct().orderBy("file_id").collect()]
    tof, traces = bin_bias_series(ev, "t", 120, (60000.0, 120000.0), file_ids=ids)
    # "exact integers" holds only below float32's 2^24 contiguous-integer
    # range; beyond it the cube count would round and the bit-exact claim
    # vs the oracle's integer division breaks — guard rather than diverge
    assert traces.max() < 2**24, "float32 cube counts no longer exact"
    normed = normspec(traces)

    # ---- F3: peak detection contract gates. peakdetect1d discards the
    # FIRST detected extremum by contract (the customary leading false
    # hit) — on this probe that is the start-of-ramp minimum 0@x=0, so
    # both apexes (20@x=20, 15@x=45) and the interior valley (5.5@x=35)
    # must come back exactly, in order.
    probe = np.concatenate([
        np.arange(21.0),                    # x 0..20: rise to 20
        np.arange(19.5, 4.5, -1.0),         # x 21..35: fall to 5.5
        np.arange(6.0, 16.0, 1.0),          # x 36..45: rise to 15
        np.arange(14.5, -0.5, -1.0),        # x 46..60: fall away
    ])
    maxs, mins = peakdetect1d(probe, np.arange(probe.size, dtype=float), lookahead=3)
    peak_ok = bool(
        maxs.shape[0] == 2
        and list(maxs[0]) == [20.0, 20.0] and list(maxs[1]) == [45.0, 15.0]
        and mins.shape[0] == 1 and list(mins[0]) == [35.0, 5.5],
    )
    # on the REAL traces the billauer contract can confirm a post-reset
    # pseudo-peak that is not a neighborhood maximum (verified behavior,
    # not a bug) — the gate here is positional consistency: the returned
    # x is an actual bin in range and the reported amplitude IS the
    # trace's value there; exactness is pinned by the probe above
    peaks = peaksearch(traces, tof, [(60000.0, 120000.0)] * len(ids))
    for i in range(len(ids)):
        where = np.where(tof == peaks[i, 0])[0]
        peak_ok = peak_ok and bool(
            where.size == 1 and peaks[i, 1] == traces[i, int(where[0])],
        )

    # ---- F2: DTW gates on the real traces
    dtw_ok = True
    for i in range(len(ids)):
        path = find_correspondence(traces[i], traces[i])
        dtw_ok = dtw_ok and bool(
            path.shape[0] == traces.shape[1] and (path[:, 0] == path[:, 1]).all(),
        )
    ident = find_correspondence(traces[0], traces[0])
    dtw_ok = dtw_ok and range_convert(
        tof, (tof[10], tof[100]), ident,
    ) == (tof[10], tof[100])

    # ---- F4: exact-interpolation lstsq calibration (VALUE check)
    k = min(4, len(ids))
    assert k >= 2, "bias-series fit needs at least two files"
    landmarks = np.array([(60000.0 + 12000.0 * (i + 1)) / 1e5 for i in range(k)])
    biases = np.array([9.0 + 0.5 * i for i in range(k)])
    calib = calibrate_energy(
        landmarks, biases, t=landmarks, ref_id=0, ref_energy=20.0,
        method="lstsq", energy_scale="kinetic", order=k - 1,
    )
    cal = {int(ids[i]): round(float(calib["axis"][i]), 6) for i in range(k)}

    # ---- F10: bias voltage from h5 root attrs, via the vendored fixture
    # (tests/data/bias_fixture.h5, written by io/hdf5_write with the same
    # attribute key/value as the real instrument file — the REAL file read
    # is pinned by tests/test_hdf5_read.py:446). Repo-relative and no
    # try/except: a missing fixture raises loudly at query-build time
    # instead of silently flipping the gate to False and masquerading as
    # a hash mismatch.
    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "data", "bias_fixture.h5",
    )
    vals = extract_bias_h5([fixture], "@KTOF:Lens:Sample:V")
    bias_h5_ok = bool(np.allclose(vals, [19.3]))

    rows = [
        (int(f), int(b), float(normed[i, b]), cal.get(int(f)),
         peak_ok, dtw_ok, bias_h5_ok)
        for i, f in enumerate(ids)
        for b in range(traces.shape[1])
        if traces[i, b] > 0
    ]
    return spark.createDataFrame(
        rows,
        "file_id bigint, bin bigint, norm double, cal_energy double, "
        "peak_ok boolean, dtw_ok boolean, bias_h5_ok boolean",
    )


_DFIELD_N = 2048  # inverse-field grid resolution (detector-sized: step = 1)


def _dfield_oracle_sql() -> str:
    """DuckDB twin of _q_dfield: the grid values are an affine formula of
    the integer grid index, so the bilinear lookup is reproduced inline with
    the EXACT arithmetic of map_coordinates_bilinear (same op order: weights
    first, per-corner products, left-associated += starting from 0.0)."""
    n = _DFIELD_N
    half = float(n / 2)

    def g(idx: str) -> str:
        return f"((({idx}) - {fsql(half)}) * 1.0005 + {fsql(half)})"

    def plane(v00: str, v01: str, v10: str, v11: str) -> str:
        # corner values at (r0,c0) (r0,c1) (r1,c0) (r1,c1); out-of-grid
        # corners contribute 0 (map_coordinates mode='constant')
        t1 = f"((1.0 - fr) * (1.0 - fc)) * (CASE WHEN okr0 AND okc0 THEN {v00} ELSE 0.0 END)"
        t2 = f"((1.0 - fr) * fc) * (CASE WHEN okr0 AND okc1 THEN {v01} ELSE 0.0 END)"
        t3 = f"(fr * (1.0 - fc)) * (CASE WHEN okr1 AND okc0 THEN {v10} ELSE 0.0 END)"
        t4 = f"(fr * fc) * (CASE WHEN okr1 AND okc1 THEN {v11} ELSE 0.0 END)"
        return f"CASE WHEN bad THEN 0.0 ELSE 0.0 + {t1} + {t2} + {t3} + {t4} END"

    xm = plane(g("r0"), g("r0"), g("r1"), g("r1"))  # plane 0: value = f(row)
    ym = plane(g("c0"), g("c1"), g("c0"), g("c1"))  # plane 1: value = f(col)
    lim = n - 1
    return (
        f"SELECT event_id, {xm} AS Xm, {ym} AS Ym FROM ("
        f"SELECT event_id, fr, fc, r0, c0, r0 + 1.0 AS r1, c0 + 1.0 AS c1, "
        f"(r0 >= 0.0 AND r0 <= {lim}.0) AS okr0, (r0 >= -1.0 AND r0 <= {lim - 1}.0) AS okr1, "
        f"(c0 >= 0.0 AND c0 <= {lim}.0) AS okc0, (c0 >= -1.0 AND c0 <= {lim - 1}.0) AS okc1, "
        # outside [0, n-1] -> cval 0, scipy's legacy 'constant' mode (the
        # engine's map_coordinates_bilinear matches this exactly)
        f"(X < 0.0 OR X > {lim}.0 OR Y < 0.0 OR Y > {lim}.0) AS bad "
        f"FROM (SELECT event_id, X, Y, floor(X) AS r0, floor(Y) AS c0, "
        f"X - floor(X) AS fr, Y - floor(Y) AS fc FROM ({_EV_SQL})))"
    )


@query("dfield_correction", oracle=_dfield_oracle_sql)
def _q_dfield(spark, sf):
    # deterministic barrel-distortion inverse field (stands in for F8
    # output); detector-resolution grid so X/Y are direct grid coordinates
    # and the oracle can regenerate every grid value from the same formula
    h = w = _DFIELD_N
    rr, cc = np.meshgrid(np.arange(h, dtype=float), np.arange(w, dtype=float), indexing="ij")
    r0 = (rr - h / 2) * 1.0005 + h / 2
    c0 = (cc - w / 2) * 1.0005 + w / 2
    ev = apply_dfield(
        _events(spark, sf), np.stack([r0, c0]),
        x_column="X", y_column="Y", detector_ranges=((0, h), (0, w)),
    )
    return ev.select("event_id", "Xm", "Ym")
