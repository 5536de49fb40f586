"""Property-based CROSS-ENGINE bit-exactness of the bin-index twins.

The correctness gate rests on one invariant: the Spark Column expression
(:func:`bin_index_expr` / `bin_index_expr_edges`) and its generated DuckDB
SQL twin classify every double identically — including adversarial values
(edge±ulp, subnormals, huge magnitudes, NaN, ±inf, NULL). The golden
selfcheck only exercises the driver's well-behaved data; this suite feeds
both engines hypothesis-generated hostile doubles and compares the raw
per-value indexes.
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sed_binning_spark.binning.expressions import (  # noqa: E402
    bin_index_expr,
    bin_index_expr_edges,
    bin_index_sql,
    bin_index_sql_edges,
)

_SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# hostile inputs: ordinary values, exact edges, edges +- one ulp,
# non-finite, subnormal, huge
def _hostile_values(lo: float, hi: float, n: int, rng) -> list:
    width = (hi - lo) / n
    vals = [
        float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
        5e-324, -5e-324, 1e308, -1e308, None,
        lo, hi, lo - width / 2, hi - width / 2, (lo + hi) / 2,
    ]
    for k in range(n + 1):
        e = (lo - width / 2) + k * width
        vals += [e, math.nextafter(e, math.inf), math.nextafter(e, -math.inf)]
    vals += list(rng.uniform(lo - 2 * width, hi + 2 * width, 40))
    return [None if v is None else float(v) for v in vals]




_TMP_ROOT = tempfile.mkdtemp(prefix="xengine-props-")
atexit.register(shutil.rmtree, _TMP_ROOT, True)
_TMP_SEQ = [0]


def _write_vals(vals) -> str:
    """Round the values through parquet: pyarrow float64 keeps NULL and NaN
    DISTINCT (a pandas float64 array folds None into NaN, and the nullable
    Float64 extension folds NaN into NA — either way one of the two dirty
    classes would silently vanish from the test). A row id pins the order
    for the positional compare."""
    _TMP_SEQ[0] += 1
    d = os.path.join(_TMP_ROOT, str(_TMP_SEQ[0]))
    os.makedirs(d)
    tbl = pa.table({
        "rid": pa.array(range(len(vals)), type=pa.int64()),
        "v": pa.array(vals, type=pa.float64()),
    })
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
    return d


@st.composite
def _uniform_case(draw):
    nbins = draw(st.integers(1, 17))
    lo = draw(st.floats(-1e5, 1e5, allow_nan=False, allow_infinity=False))
    width = draw(st.floats(1e-3, 1e3, allow_nan=False, allow_infinity=False))
    seed = draw(st.integers(0, 2**16))
    return nbins, lo, lo + nbins * width, seed


@given(case=_uniform_case())
@_SET
def test_uniform_twin_bit_exact(spark, case):
    nbins, lo, hi, seed = case
    rng = np.random.default_rng(seed)
    vals = _hostile_values(lo, hi, nbins, rng)
    path = _write_vals(vals)

    import pyspark.sql.functions as F

    sdf = (
        spark.read.parquet(path)
        .select(F.col("rid"), bin_index_expr("v", nbins, lo, hi).alias("b"))
        .toPandas().sort_values("rid").reset_index(drop=True)
    )
    con = duckdb.connect()
    odf = con.execute(
        f"SELECT {bin_index_sql('v', nbins, lo, hi)} AS b "
        f"FROM read_parquet('{path}/*.parquet') ORDER BY rid",
    ).df()
    s = [None if pd.isna(x) else int(x) for x in sdf["b"]]
    o = [None if pd.isna(x) else int(x) for x in odf["b"]]
    assert s == o, (
        f"divergence for nbins={nbins} lo={lo!r} hi={hi!r}: "
        + str([(v, a, b) for v, a, b in zip(vals, s, o) if a != b][:5])
    )


@st.composite
def _edges_case(draw):
    n_edges = draw(st.integers(2, 200))
    start = draw(st.floats(-1e5, 1e5, allow_nan=False, allow_infinity=False))
    steps = draw(
        st.lists(st.floats(1e-3, 1e3, allow_nan=False), min_size=n_edges - 1,
                 max_size=n_edges - 1),
    )
    seed = draw(st.integers(0, 2**16))
    edges = [start]
    for s in steps:
        edges.append(edges[-1] + s)
    return np.asarray(edges, dtype=float), seed


@given(case=_edges_case())
@_SET
def test_edges_twin_bit_exact(spark, case):
    edges, seed = case
    rng = np.random.default_rng(seed)
    lo, hi = float(edges[0]), float(edges[-1])
    vals = [
        float("nan"), float("inf"), float("-inf"), None, 0.0,
        lo, hi, (lo + hi) / 2,
    ]
    for e in edges:
        vals += [float(e), math.nextafter(float(e), math.inf),
                 math.nextafter(float(e), -math.inf)]
    span = max(hi - lo, 1.0)
    vals += list(rng.uniform(lo - span, hi + span, 40))
    path = _write_vals([None if v is None else float(v) for v in vals])

    import pyspark.sql.functions as F

    sdf = (
        spark.read.parquet(path)
        .select(F.col("rid"), bin_index_expr_edges("v", edges).alias("b"))
        .toPandas().sort_values("rid").reset_index(drop=True)
    )
    con = duckdb.connect()
    odf = con.execute(
        f"SELECT {bin_index_sql_edges('v', edges)} AS b "
        f"FROM read_parquet('{path}/*.parquet') ORDER BY rid",
    ).df()
    s = [None if pd.isna(x) else int(x) for x in sdf["b"]]
    o = [None if pd.isna(x) else int(x) for x in odf["b"]]
    assert s == o, (
        f"divergence for edges={edges.tolist()}: "
        + str([(v, a, b) for v, a, b in zip(vals, s, o) if a != b][:5])
    )


# --------------------------------------------------------------- Rabin-Karp
def _rk_reference(tokens: list, window: int) -> list:
    """Pure-Python definitional form of the double-track polynomial the
    doubling-zip pipeline assembles: per-token md5 residues, left fold
    (a*B + b) mod M per window per track, combined h1*2^31 + h2."""
    import hashlib

    from sed_binning_spark.pipeline.text import (
        RK_BASE1,
        RK_BASE2,
        RK_MOD1,
        RK_MOD2,
        _RK_COMBINE,
    )

    res = []
    digs = [hashlib.md5(t.encode()).hexdigest() for t in tokens]
    t1 = [int(d[0:13], 16) % RK_MOD1 for d in digs]
    t2 = [int(d[13:26], 16) % RK_MOD2 for d in digs]
    for j in range(len(tokens) - window + 1):
        h1 = h2 = 0
        for k in range(window):
            h1 = (h1 * RK_BASE1 + t1[j + k]) % RK_MOD1
            h2 = (h2 * RK_BASE2 + t2[j + k]) % RK_MOD2
        res.append(h1 * _RK_COMBINE + h2)
    return res


@given(
    tokens=st.lists(
        st.text(alphabet="abXY9 é", min_size=0, max_size=4),
        min_size=0, max_size=40,
    ),
    window=st.integers(1, 12),
)
@_SET
def test_rk_window_hashes_match_python_reference(spark, tokens, window):
    """The O(log w) binary-doubling zip composition must equal the
    definitional per-window left fold for EVERY window width shape
    (single set bit, multi-bit combines, w > n partials) on arbitrary
    token content — including empty and whitespace-bearing strings, which
    the whitespace tokenizer strips before hashing."""
    import pyspark.sql.functions as F

    from sed_binning_spark.pipeline.text import (
        rk_window_hashes,
        whitespace_tokens,
    )

    text = " ".join(tokens)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = rk_window_hashes(
        df.select("doc_id", whitespace_tokens(F.col("text")).alias("tk")),
        "tk", "wh", window,
    ).select("wh").first().wh
    # the tokenizer strips empty tokens; mirror it for the reference
    toks = [t for t in text.strip().split() if t]
    want = _rk_reference(toks, window) if len(toks) >= window else []
    assert list(got) == want
