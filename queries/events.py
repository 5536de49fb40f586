"""Event-frame operator queries: filters, column maps and drops, NaN
drops, offsets, fills, interpolation and the hash jitter."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from queries import query
from queries._common import _EV_SQL, _events
from sed_binning_spark.core.dfops import (
    add_time_stamped_data, apply_jitter, backward_fill, drop_column, drop_nan_rows, forward_fill,
    map_columns_2d, offset_by_other_columns,
)
from sed_binning_spark.sqlgen import fsql, hex_to_bigint_sql


# M13 external series (timestamps span every sf's ts range; clamped outside)
_INTERP_XS = np.linspace(1.700e9, 1.710e9, 9)
_INTERP_YS = np.array([0.0, 1.0, 4.0, 9.0, 16.0, 9.0, 4.0, 1.0, 0.0])


def _np_interp_sql(x: str, xs: np.ndarray, ys: np.ndarray) -> str:
    """Piecewise-linear SQL twin of np.interp incl. edge clamping, built
    from the same slope literals (slope*(x-x0)+y0 per segment)."""
    parts = [f"CASE WHEN {x} <= {fsql(xs[0])} THEN {fsql(ys[0])}"]
    for i in range(len(xs) - 1):
        slope = (ys[i + 1] - ys[i]) / (xs[i + 1] - xs[i])
        parts.append(
            f"WHEN {x} < {fsql(xs[i + 1])} THEN {fsql(slope)} * ({x} - {fsql(xs[i])}) + {fsql(ys[i])}",
        )
    parts.append(f"ELSE {fsql(ys[-1])} END")
    return " ".join(parts)


@query("filters", oracle=lambda: (
    f"SELECT event_id, value FROM ({_EV_SQL}) "
    f"WHERE value > 100.0 AND value < 400.0 AND row_id < 500.0"
))
def _q_filters(spark, sf):
    """P1+P2 merged: value-range filter (strict open interval) chained with
    an index filter — both predicate paths of apply_filter — applied
    through the SedProcessor facade (P2, reference sed/core/processor.py:
    449-487) so the wrapper's alias resolution / missing-column /
    index-frame routing sits on the cross-engine gate, not only pytest."""
    from sed_binning_spark.processor import SedProcessor

    proc = SedProcessor(spark=spark, dataframe=_events(spark, sf))
    proc.filter_column("value", 100.0, 400.0)
    # bound chosen below the sf0.001 row count so the index predicate also
    # bites in the dirty-events parity suite, not just at the sf0.01 gate
    proc.filter_column("index", max_value=500.0)
    return proc.dataframe.select("event_id", "value")


# M2 rotation by 0.25 rad (literals shared by both engines)
_ROT_C, _ROT_S = float(np.cos(0.25)), float(np.sin(0.25))


@query("map_drop", oracle=lambda: (
    f"SELECT event_id, user_id, value, "
    f"X * {fsql(_ROT_C)} - Y * {fsql(_ROT_S)} AS Xr, "
    f"X * {fsql(_ROT_S)} + Y * {fsql(_ROT_C)} AS Yr FROM ({_EV_SQL})"
))
def _q_map_drop(spark, sf):
    """M2 + P4 merged: 2-D rotation map, then drop the payload columns the
    downstream analysis never reads."""
    c, s = _ROT_C, _ROT_S

    def rot(x, y):
        return (x * F.lit(c) - y * F.lit(s), x * F.lit(s) + y * F.lit(c))

    ev = map_columns_2d(_events(spark, sf), rot, "X", "Y", "Xr", "Yr")
    ev = drop_column(ev, ["props", "event_type", "ts", "X", "Y"])
    return ev.select("event_id", "user_id", "value", "Xr", "Yr")


@query("nan_drop", oracle=lambda: (
    f"SELECT event_id, sv1, sv2 FROM (SELECT event_id, "
    f"CASE WHEN event_id % 7 <> 0 THEN value END AS sv1, "
    f"CASE WHEN event_id % 11 = 0 THEN 'NaN'::DOUBLE ELSE ADC END AS sv2 "
    f"FROM ({_EV_SQL})) WHERE sv1 IS NOT NULL AND NOT isnan(sv1) "
    f"AND sv2 IS NOT NULL AND NOT isnan(sv2)"
))
def _q_nan_drop(spark, sf):
    """P5: electron-frame dropna — NULL and float-NaN rows both rejected
    (sed/loader/flash/loader.py:822-824)."""
    ev = _events(spark, sf).withColumns({
        "sv1": F.when(F.col("event_id") % 7 != 0, F.col("value")),
        "sv2": F.when(F.col("event_id") % 11 == 0, F.lit(float("nan")))
        .otherwise(F.col("ADC")),
    })
    return drop_nan_rows(ev, ["sv1", "sv2"]).select("event_id", "sv1", "sv2")


@query("offsets", oracle=lambda: (
    f"SELECT event_id, t + 2.0 * ADC + -0.5 * value AS t_off_row, "
    f"round(t + (SELECT avg(ADC) FROM ({_EV_SQL})), 6) AS t_off_mean "
    f"FROM ({_EV_SQL})"
))
def _q_offsets(spark, sf):
    """M12 merged: per-row weighted offsets AND a mean-reduced offset from
    the same frame (offset_by_other_columns with inplace=False/rename)."""
    ev = _events(spark, sf)
    ev = offset_by_other_columns(
        ev, "t", ["ADC", "value"], weights=[2.0, -0.5],
        inplace=False, rename="t_off_row",
    )
    ev = offset_by_other_columns(
        ev, "t", ["ADC"], weights=[1.0], reductions="mean",
        inplace=False, rename="t_off_mean",
    )
    return ev.select(
        "event_id", "t_off_row",
        F.round(F.col("t_off_mean"), 6).alias("t_off_mean"),
    )


# the NaN mask mirrors the engine (and pandas ffill/bfill): a NaN
# sample is MISSING and must be filled over, not carried forward —
# IGNORE NULLS alone would treat NaN as a real reading
@query("fills", oracle=lambda: (
    f"SELECT event_id, last_value(sv_f IGNORE NULLS) OVER "
    f"(ORDER BY file_id, row_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_f, "
    f"first_value(sv_b IGNORE NULLS) OVER "
    f"(ORDER BY file_id, row_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sv_b "
    f"FROM (SELECT *, CASE WHEN event_id % 20 = 0 AND NOT isnan(value) "
    f"THEN value END AS sv_f, "
    f"CASE WHEN event_id % 17 = 0 AND NOT isnan(ADC) THEN ADC END AS sv_b "
    f"FROM ({_EV_SQL}))"
))
def _q_fills(spark, sf):
    """W1 + W2 merged: forward fill one sparse channel and backward fill
    another from the same frame (both directions of the per-file window +
    boundary-handoff machinery in one plan)."""
    ev = _events(spark, sf).withColumns({
        "sv_f": F.when(F.col("event_id") % 20 == 0, F.col("value")),
        "sv_b": F.when(F.col("event_id") % 17 == 0, F.col("ADC")),
    })
    ev = forward_fill(ev, ["sv_f"])
    ev = backward_fill(ev, ["sv_b"])
    return ev.select("event_id", "sv_f", "sv_b")


# M13: timestamped-channel interpolation
@query("interp_channel", oracle=lambda: (
    f"SELECT event_id, {_np_interp_sql('ts_sec', _INTERP_XS, _INTERP_YS)} AS chan "
    f"FROM ({_EV_SQL})"
))
def _q_interp(spark, sf):
    ev = add_time_stamped_data(
        _events(spark, sf), _INTERP_XS, _INTERP_YS,
        dest_column="chan", time_stamp_column="ts_sec",
    )
    return ev.select("event_id", "chan")


# M1 hash-jitter twin: md5 over the length-prefixed key encoding
# ("len:value;" per key column + the operator domain tag + seed) -> 52-bit lane -> exact
# /2^52 scale; every arithmetic step is either exact or a single
# IEEE rounding shared by both engines
@query("jitter", oracle=lambda: (
    f"SELECT event_id, X + 0.5e0 * noise AS X_jittered, "
    f"Y + 0.5e0 * noise AS Y_jittered FROM (SELECT event_id, X, Y, "
    f"CAST({hex_to_bigint_sql('hx', 1)} AS DOUBLE) "
    f"/ 4503599627370496e0 * 2e0 - 1e0 AS noise FROM ("
    f"SELECT event_id, X, Y, md5("
    f"CAST(length(CAST(file_id AS VARCHAR)) AS VARCHAR) || ':' || "
    f"CAST(file_id AS VARCHAR) || ';' || "
    f"CAST(length(CAST(row_id AS VARCHAR)) AS VARCHAR) || ':' || "
    f"CAST(row_id AS VARCHAR) || ';jitter:7') AS hx FROM ({_EV_SQL})))"
))
def _q_jitter(spark, sf):
    """M1 with the counter-based draw (method='hash'): noise is 52 mantissa
    bits of md5(file_id:row_id:seed), so the draw is partition-layout- and
    retry-independent — the reproducible jitter at scale — and the DuckDB
    twin regenerates it bit-exactly (every step after the hex parse is an
    exact power-of-two scale or a single shared IEEE rounding). The
    reference-faithful rand() draw (method='rand', random by design) is
    distribution-pinned by tests/test_dfops.py instead."""
    ev = apply_jitter(
        _events(spark, sf), cols=["X", "Y"], amps=0.5, seed=7, method="hash",
    )
    return ev.select("event_id", "X_jittered", "Y_jittered")
