"""Property-based ``add_time_stamped_data`` semantics (hypothesis): for
arbitrary (timestamp, value) series — one point, repeated timestamps,
wide or narrow spans — every event gets exactly ``np.interp`` of its
timestamp, bit for bit: clamped to the end values below the first and
above the last timestamp. A NULL timestamp reaches ``np.interp`` as NaN,
and wherever ``np.interp`` returns NaN the event gets NULL: the Arrow
crossing back from the pandas_udf turns NaN into NULL. So NaN and NULL
timestamps give NULL, except over a one-point series, where
``np.interp`` returns the point's value for every timestamp, NaN
included. A JVM form of the interpolation must keep all of this."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sed_binning_spark.core.dfops import add_time_stamped_data

_FINITE = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


@st.composite
def _series(draw):
    """Sorted timestamps (repeats drawn on purpose) and their values."""
    xs = draw(st.lists(_FINITE, min_size=1, max_size=12))
    repeats = draw(st.lists(st.sampled_from(xs), max_size=3))
    xs = sorted(xs + repeats)
    ys = draw(st.lists(_FINITE, min_size=len(xs), max_size=len(xs)))
    return xs, ys, draw(st.integers(0, 2**31))


def _probes(xs, seed, n=400):
    """Timestamps inside, on, below and above the series; NaN and NULL."""
    rng = np.random.default_rng(seed)
    lo, hi = xs[0], xs[-1]
    span = max(hi - lo, 1.0)
    ts = rng.uniform(lo - span, hi + span, n).tolist()
    ts += rng.uniform(lo, hi, n).tolist()
    ts += xs + [lo - span * 1e3, hi + span * 1e3, -np.inf, np.inf, float("nan")] * 3
    ts += [None] * 5
    rng.shuffle(ts)
    return ts


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_series())
@example(case=([5.0], [-2.5], 1))
@example(case=([0.0, 1.0, 1.0, 1.0, 4.0], [3.0, -1.0, 7.0, 2.0, 0.5], 2))
def test_add_time_stamped_data_matches_np_interp(spark, case):
    import pyarrow as pa

    xs, ys, seed = case
    ts = _probes(xs, seed)
    # an Arrow frame keeps NaN and NULL apart (pandas would fold NaN into NULL)
    df = spark.createDataFrame(pa.table({
        "id": np.arange(len(ts)), "ts": pa.array(ts, pa.float64())}))
    out = add_time_stamped_data(
        df, np.array(xs), np.array(ys), "v", "ts").toArrow().sort_by("id")
    got = out.column("v")

    probe = np.array([np.nan if t is None else t for t in ts])
    want = np.interp(probe, np.array(xs, dtype=float), np.array(ys, dtype=float))
    null = np.isnan(want)
    assert null[np.isnan(probe)].all() == (len(xs) > 1)
    assert got.is_null().to_numpy(zero_copy_only=False).tolist() == null.tolist()
    got_vals = got.drop_null().to_numpy()
    np.testing.assert_array_equal(got_vals.view(np.int64), want[~null].view(np.int64))
    # clamping, spelled out: every probe outside the series takes an end value
    assert np.all(want[probe < xs[0]] == ys[0])
    assert np.all(want[probe > xs[-1]] == ys[-1])
