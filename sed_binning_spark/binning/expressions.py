"""Bin-index Column expressions — the codegen'd replacement for the
reference's Numba histogram kernels.

The reference accumulates histograms with JIT kernels
(sed/binning/numba_bin.py:16-71 for uniform ranges, :74-152 for explicit
edges). Here the per-row bin index is a pure Catalyst expression, so the
whole binning pipeline (scan -> project -> partial agg -> shuffle -> final
agg) stays inside whole-stage codegen with zero Python involvement.

Replicated edge semantics (these are what the DuckDB oracle checks):
- uniform path: index j = round((x - e0) * (1/w), 11) — the 11-decimal
  rounding strips FP noise exactly like numba_bin.py:59;
- explicit-edge path: index = (count of edges <= x) - 1, the binsearch of
  numba_bin.py:74-105, for any edge count. The count is one JVM binary
  search over a plan-time constant array (:func:`_count_le`), so this path
  is Python-free too;
- values on the last edge fall in the last bin (numba_bin.py:60-62,
  binsearch :92-93);
- out-of-range and NaN/NULL rows are rejected (numba_bin.py:88-89);
- int-bins+ranges interprets the given range as the CENTERS of the first and
  last bins: edges are shifted down by half a bin (binning.py:134-143).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

from sed_binning_spark.sqlgen import fsql


def uniform_bin_params(
    nbins: int,
    lo: float,
    hi: float,
    half_bin_shift: bool = True,
) -> tuple[float, float, float]:
    """Plan-time arithmetic for the uniform path.

    Returns (e0, delta, width): lowest edge, reciprocal bin width, width.
    With ``half_bin_shift`` (the reference's int-bins behaviour,
    binning.py:134-143) the given range denotes first/last bin centers, so
    the edge origin moves down by width/2 and bin centers are
    ``linspace(lo, hi, n, endpoint=False)``.
    """
    width = (hi - lo) / nbins
    e0 = lo - width / 2 if half_bin_shift else lo
    delta = 1.0 / width
    return e0, delta, width


def bin_index_expr(
    col: str | Column,
    nbins: int,
    lo: float,
    hi: float,
    half_bin_shift: bool = True,
) -> Column:
    """Uniform-range bin index; NULL when the value is out of range/NaN.

    Matches _hist_from_bin_range (numba_bin.py:16-71): j is rounded to 11
    decimals before the floor, j == nbins maps to the last bin, anything
    outside [0, nbins] is rejected. NaN compares greater than any number in
    Spark SQL, so ``j <= nbins`` rejects it.
    """
    c = F.col(col) if isinstance(col, str) else col
    e0, delta, _ = uniform_bin_params(nbins, float(lo), float(hi), half_bin_shift)
    # floor(x*1e11 + 0.5)/1e11 is a pure-arithmetic 11-decimal round: Spark's
    # round(double, scale) routes every row through
    # java.math.BigDecimal.setScale — measured at 3x the cost of the entire
    # rest of the 1-D binning pipeline. The invariant that matters for the
    # oracle is that BOTH engines (this expression and bin_index_sql's DuckDB
    # twin) evaluate the same IEEE expression tree on the same plan-time
    # literals, so they classify every value identically.
    #
    # NaN must be rejected EXPLICITLY: Spark's F.floor on a double is JVM
    # (long)Math.floor(x), and (long)NaN == 0, so without the isnan guard a
    # NaN row would evaluate to j = 0.0 and silently land in bin 0 (the
    # DuckDB twin rejects it, since floor(NaN) = NaN there). Matches the
    # reference kernel, where any comparison with NaN is False
    # (numba_bin.py:88-89).
    xd = c.cast("double")
    raw = (xd - F.lit(e0)) * F.lit(delta)
    j = F.floor(raw * F.lit(1e11) + F.lit(0.5)) / F.lit(1e11)
    idx = F.when(j == F.lit(float(nbins)), F.lit(nbins - 1).cast("bigint")).otherwise(F.floor(j))
    valid = ~F.isnan(xd) & (j >= F.lit(0.0)) & (j <= F.lit(float(nbins)))
    return F.when(valid, idx)


def bin_index_sql(
    col: str,
    nbins: int,
    lo: float,
    hi: float,
    half_bin_shift: bool = True,
) -> str:
    """ANSI-SQL twin of :func:`bin_index_expr` (for the DuckDB oracle).

    Generated from the SAME plan-time float literals so both engines compute
    an identical IEEE expression tree.
    """
    e0, delta, _ = uniform_bin_params(nbins, float(lo), float(hi), half_bin_shift)
    # same pure-arithmetic 11-decimal round as bin_index_expr, so both
    # engines evaluate an identical IEEE expression tree. NaN is rejected
    # EXPLICITLY, like the Spark twin: DuckDB's vectorized column
    # comparisons are NOT consistent about NaN range checks (a NaN column
    # value passes `v >= lo AND v <= hi` in some plans while the same
    # constant-folded literal fails it), so relying on the comparisons
    # alone is a latent cross-engine divergence.
    raw = f"(CAST({col} AS DOUBLE) - {fsql(e0)}) * {fsql(delta)}"
    j = f"(floor({raw} * 1e11 + 0.5) / 1e11)"
    return (
        f"CASE WHEN NOT isnan(CAST({col} AS DOUBLE)) "
        f"AND {j} >= 0 AND {j} <= {fsql(nbins)} THEN "
        f"CASE WHEN {j} = {fsql(nbins)} THEN {nbins - 1} "
        f"ELSE CAST(floor({j}) AS BIGINT) END END"
    )


def bin_index_expr_edges(col: str | Column, edges: np.ndarray) -> Column:
    """Explicit-edge (possibly non-uniform) bin index; NULL when outside.

    Matches binsearch (numba_bin.py:74-105): left-inclusive bins, value on
    the final edge falls in the last bin, NaN/out-of-range rejected. The
    index is ``least(count(edges <= x) - 1, n_bins - 1)`` with the count
    from :func:`_count_le`: one codegen'd expression for every edge count,
    O(log n_edges) per row.

    On 4e6 cached rows (4-core host, best of 3) a ``groupBy(index).count()``
    over random or log-spaced edges took 0.3-0.8 s from 51 to 1e4 edges and
    1.8-1.9 s at 1e5, where the constant array's per-query cost shows. The
    Arrow searchsorted UDF it replaced took 0.6-0.8 s from 201 to 1e4 edges
    and 1.2-1.6 s at 1e5; the array-literal ``filter`` it replaced at <= 64
    edges took 1.8 s at 51.
    """
    c = F.col(col) if isinstance(col, str) else col
    edges = np.asarray(edges, dtype=float)
    n = edges.size - 1
    if n < 1:
        raise ValueError("need at least 2 edges")
    xd = c.cast("double")
    idx = F.least(_count_le(xd, edges) - F.lit(1), F.lit(n - 1)).cast("bigint")
    valid = (xd >= F.lit(float(edges[0]))) & (xd <= F.lit(float(edges[-1])))
    return F.when(valid, idx)


def bin_index_sql_edges(col: str, edges: np.ndarray) -> str:
    """DuckDB twin of :func:`bin_index_expr_edges` (list_filter lambda).

    NaN is rejected explicitly: in DuckDB's vectorized execution a NaN
    column value can pass BOTH range comparisons (while `e <= NaN` is true
    for every edge), which would classify NaN into the LAST bin where the
    Spark twin rejects it."""
    edges = np.asarray(edges, dtype=float)
    n = edges.size - 1
    lst = "[" + ", ".join(fsql(e) for e in edges) + "]"
    cnt = f"len(list_filter({lst}, e -> e <= {col}))"
    return (
        f"CASE WHEN NOT isnan(CAST({col} AS DOUBLE)) "
        f"AND {col} >= {fsql(edges[0])} AND {col} <= {fsql(edges[-1])} "
        f"THEN CAST(least({cnt} - 1, {n - 1}) AS BIGINT) END"
    )


def _count_le(x: Column, values: np.ndarray) -> Column:
    """``np.searchsorted(values, x, side="right")`` as one codegen'd Column,
    exact for every double x (±inf and NaN included) and any sorted array.

    Spark's ``array_binary_search`` (``java.util.Arrays.binarySearch``; the
    binning of PySpark's own histogram plots) over the distinct values
    ``u`` returns x's index or ``-(insertion point) - 1``, so ``abs(r + 1)``
    counts the distinct values <= x; with duplicates, ``cum[c]`` (the count
    of values <= ``u[c-1]``) maps that to all values. Its comparator puts
    -0.0 below 0.0, so both sides get +0.0 added (-0.0 + 0.0 == 0.0). Each
    constant is one JVM call: Catalyst folds ``from_json`` of a literal,
    and ``repr``'d JSON doubles round-trip exactly.
    """
    def const(a: np.ndarray, element_type: str) -> Column:
        return F.from_json(F.lit(json.dumps(a.tolist())), f"array<{element_type}>")

    v = np.asarray(values, dtype=float) + 0.0
    u = np.unique(v)
    distinct_le = F.abs(
        InternalFunction.array_binary_search(const(u, "double"), x + F.lit(0.0)) + F.lit(1),
    )
    if u.size == v.size:
        return distinct_le
    return const(np.r_[0, np.searchsorted(v, u, side="right")], "int")[distinct_le]
