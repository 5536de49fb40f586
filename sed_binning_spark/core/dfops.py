"""Generic dataframe operators (reference: sed/core/dfops.py).

Every operator here is a Catalyst expression pipeline — no Python crosses
the JVM boundary except ``add_time_stamped_data`` (Arrow-batched np.interp).
Operators that need row order (fills, diffs) key on explicit
(file_id, row_id) columns minted at load time: Spark has no implicit row
order, and a global orderBy would serialize at scale, so the fills use a
two-phase per-file + boundary-handoff strategy that shuffles nothing big.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

FILE_COLUMN = "file_id"
ROW_COLUMN = "row_id"


# ---------------------------------------------------------------------------
# jitter (M1: sed/core/dfops.py:16-70)
# ---------------------------------------------------------------------------
def _hash_key_digest(
    df: DataFrame, key_columns: Sequence[str], seed: int, domain: str,
) -> Column:
    """md5 hex digest of the row key: the shared entropy source behind
    every counter-based ("hash") draw in the engine (jitter noise,
    deterministic sampling, corpus splits).

    Strict concat (not concat_ws): a NULL key must yield a NULL digest,
    not silently collapse onto another row's key string. Each field is
    LENGTH-PREFIXED so the encoding is injective — with a bare ':'
    separator, string keys ('x:y','z') and ('x','y:z') would hash
    identically and draw the same value.

    ``domain`` is the operator tag salted into the digest ("jitter",
    "sample", "split", ...): without it, every hash-keyed operator at the
    same (keys, seed) would read the SAME u per row, so composed operators
    become perfectly correlated — e.g. a 10% sample followed by an
    80/10/10 split would put every surviving row (u < 0.1) into 'train',
    and jitter on that sample would draw only from the bottom of its
    range. Same domain = intentionally shared randomness (what gives
    samples their nesting across fractions); different domains =
    independent draws."""
    missing = [k for k in key_columns if k not in df.columns]
    if missing:
        raise ValueError(
            f"hash-keyed draws need key columns to identify rows; "
            f"missing from dataframe: {missing}",
        )
    parts: list[Column] = []
    for k in key_columns:
        s = F.col(k).cast("string")
        parts += [F.length(s).cast("string"), F.lit(":"), s, F.lit(";")]
    return F.md5(F.concat(*parts, F.lit(f"{domain}:{int(seed)}")))


def hash_uniform(
    df: DataFrame,
    key_columns: Sequence[str] = (FILE_COLUMN, ROW_COLUMN),
    seed: int = 0,
    domain: str = "uniform",
) -> Column:
    """Deterministic per-row U[0,1) draw: the first 52 bits (13 hex chars)
    of md5 over the length-prefixed key encoding (plus the operator
    ``domain`` tag — see :func:`_hash_key_digest`), divided by 2^52.

    52 bits is the largest hex count whose integer range stays EXACT in a
    double, so the division is one exact power-of-two scale and any engine
    that parses the same hex lands on the same double (the SQL twin is
    sqlgen.hex_to_bigint_sql / 2^52). Unlike F.rand(seed), the value is a
    pure function of the row key: independent of partition layout, task
    retries, cluster size, and engine — which is what makes hash-keyed
    jitter, sampling, and split assignment reproducible at 100 TB. Rows
    with any NULL key draw NULL."""
    n = F.conv(
        F.substring(_hash_key_digest(df, key_columns, seed, domain), 1, 13),
        16, 10,
    ).cast("double")
    return n / F.lit(float(1 << 52))


def apply_jitter(
    df: DataFrame,
    cols: str | Sequence[str],
    cols_jittered: str | Sequence[str] | None = None,
    amps: float | Sequence[float] = 0.5,
    jitter_type: str = "uniform",
    seed: int | None = None,
    method: str = "rand",
    key_columns: Sequence[str] = (FILE_COLUMN, ROW_COLUMN),
) -> DataFrame:
    """Add jitter to one or more columns (sed/core/dfops.py:16-70).

    Matches the reference's semantics: ONE noise draw per call, shared by
    every column in ``cols`` (each scaled by its own amplitude); default
    amplitude 0.5 = half a digitization step, de-aliasing integer-quantized
    coordinates before histogramming. ``seed`` makes the draw reproducible
    (the reference is unseeded; our tests pin seeds).

    ``method`` picks the noise source:

    - ``"rand"`` (default, the reference's semantics): Spark's rand/randn.
      Cheapest (one xorshift per row, no hashing), but the values depend on
      the PARTITION LAYOUT — the same seed re-draws differently after AQE
      coalescing, a different file split, or a cluster resize, so a cached
      downstream result is not reproducible across runs.
    - ``"hash"``: counter-based draw — 52 explicit mantissa bits of
      ``md5(key_columns, seed)`` per row (Box–Muller over two 52-bit
      lanes of the same digest for ``jitter_type="normal"``). Layout- and
      retry-independent: the same row gets the same noise on any
      partitioning, any engine, any rerun — the reproducible choice for
      incremental pipelines at scale, and reproducible in SQL by any
      engine with md5 (the jitter oracle twin). Costs one md5 per row;
      requires ``key_columns`` (default ``(file_id, row_id)``, minted by
      every loader) to identify rows. Rows with a NULL key draw NULL
      noise (strict concat): a row that cannot be identified cannot be
      reproducibly jittered.
    """
    if cols is None:
        raise ValueError("cols needs to be provided!")
    if jitter_type not in ("uniform", "normal"):
        raise ValueError("type needs to be one of 'normal', 'uniform'!")
    if method not in ("rand", "hash"):
        raise ValueError("method needs to be one of 'rand', 'hash'!")
    if isinstance(cols, str):
        cols = [cols]
    if isinstance(cols_jittered, str):
        cols_jittered = [cols_jittered]
    if cols_jittered is None:
        cols_jittered = [c + "_jittered" for c in cols]
    if isinstance(amps, (int, float)):
        amps = [float(amps)] * len(cols)
    amps = [float(a) for a in amps]
    # zip would silently truncate a mismatched spec, jittering some columns
    # with the wrong amplitude and others not at all
    if len(amps) != len(cols):
        raise ValueError(
            f"amps has {len(amps)} entries for {len(cols)} columns",
        )
    if len(cols_jittered) != len(cols):
        raise ValueError(
            f"cols_jittered has {len(cols_jittered)} entries for "
            f"{len(cols)} columns",
        )

    # one shared noise column per call, as in the reference
    noise_col = "__jitter_noise"
    if method == "hash":
        if jitter_type == "uniform":
            noise = hash_uniform(df, key_columns, seed or 0, "jitter") * 2.0 - 1.0
        else:
            two52 = float(1 << 52)
            hx = _hash_key_digest(df, key_columns, seed or 0, "jitter")
            n1 = F.conv(F.substring(hx, 1, 13), 16, 10).cast("double")
            # Box–Muller over two independent 52-bit lanes of the digest;
            # +0.5 keeps u1 strictly inside (0,1) so log never sees 0
            u1 = (n1 + 0.5) / F.lit(two52)
            u2 = F.conv(F.substring(hx, 14, 13), 16, 10).cast("double") / F.lit(two52)
            noise = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * math.pi * u2)
    elif jitter_type == "uniform":
        noise = (F.rand(seed) if seed is not None else F.rand()) * 2.0 - 1.0
    else:
        noise = F.randn(seed) if seed is not None else F.randn()
    df = df.withColumn(noise_col, noise)
    for col, col_j, amp in zip(cols, cols_jittered, amps):
        df = df.withColumn(col_j, F.col(col) + F.lit(float(amp)) * F.col(noise_col))
    return df.drop(noise_col)


# ---------------------------------------------------------------------------
# drop / filter (P4: dfops.py:73-88; P1: dfops.py:91-120)
# ---------------------------------------------------------------------------
def drop_column(df: DataFrame, column_name: str | Sequence[str]) -> DataFrame:
    cols = [column_name] if isinstance(column_name, str) else list(column_name)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"Cannot drop missing columns: {missing}")
    return df.drop(*cols)


def drop_nan_rows(df: DataFrame, columns: str | Sequence[str]) -> DataFrame:
    """Drop rows where ANY of ``columns`` is NULL or float NaN — the P5
    electron-frame cleanup (``dataframe.dropna(subset=per_electron_cols)``,
    sed/loader/flash/loader.py:822-824, sed/loader/sxp/loader.py:877).
    Spark's ``DataFrame.dropna`` already matches pandas here — it rejects
    both NULL and float NaN over the subset — so after validating the
    column names this delegates to it. Pure-predicate filter: pushes to
    the scan, no shuffle."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"Cannot dropna on missing columns: {missing}")
    return df.dropna(how="any", subset=cols)


def apply_filter(
    df: DataFrame,
    col: str,
    lower_bound: float = -np.inf,
    upper_bound: float = np.inf,
    index_column: str = ROW_COLUMN,
) -> DataFrame:
    """Keep rows with ``lower < col < upper`` — STRICT open interval
    (sed/core/dfops.py:91-120). ``col="index"`` filters on the stable row-id
    column (the Spark stand-in for the reference's per-partition index)."""
    name = index_column if col == "index" else col
    if name not in df.columns:
        raise KeyError(f"Column {name!r} not in dataframe!")
    cond = F.lit(True)
    if lower_bound != -np.inf:
        cond = cond & (F.col(name) > F.lit(float(lower_bound)))
    if upper_bound != np.inf:
        cond = cond & (F.col(name) < F.lit(float(upper_bound)))
    return df.filter(cond)


# ---------------------------------------------------------------------------
# 2-D map (M2: dfops.py:165-193)
# ---------------------------------------------------------------------------
def map_columns_2d(
    df: DataFrame,
    map_2d,
    x_column: str,
    y_column: str,
    new_x_column: str | None = None,
    new_y_column: str | None = None,
) -> DataFrame:
    """Apply ``f(x, y) -> (x', y')`` to two columns simultaneously
    (sed/core/dfops.py:165-193). ``map_2d`` is an expression builder taking
    two Columns and returning two Columns (stays in codegen)."""
    new_x_column = new_x_column or x_column
    new_y_column = new_y_column or y_column
    out_x, out_y = map_2d(F.col(x_column), F.col(y_column))
    # compute both from the input columns before either is overwritten
    return df.withColumns({new_x_column: out_x, new_y_column: out_y})


# ---------------------------------------------------------------------------
# time-stamped data injection (M13: dfops.py:123-162)
# ---------------------------------------------------------------------------
def add_time_stamped_data(
    df: DataFrame,
    time_stamps: np.ndarray,
    data: np.ndarray,
    dest_column: str,
    time_stamp_column: str,
) -> DataFrame:
    """Interpolate an external (timestamp, value) series onto each event:
    ``dest = np.interp(df[ts], time_stamps, data)`` including edge clamping
    (sed/core/dfops.py:123-162). The series is small — broadcast into an
    Arrow-batched pandas_udf. A NULL or NaN timestamp gives NULL for every
    series length (``np.interp`` alone would give a one-point series'
    value)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if time_stamp_column not in df.columns:
        raise ValueError(f"{time_stamp_column} not found in dataframe!")
    xs = np.asarray(time_stamps, dtype=float)
    ys = np.asarray(data, dtype=float)
    if xs.ndim != 1 or xs.shape != ys.shape:
        raise ValueError("time_stamps and data need to be 1-D arrays of equal length")

    def _interp_fn(ts):
        t = ts.to_numpy(dtype=float)
        out = np.interp(t, xs, ys)
        out[np.isnan(t)] = np.nan  # NaN crosses back into Spark as NULL
        return pd.Series(out)

    # explicit hints: `from __future__ import annotations` stringizes inline
    # ones, which pandas_udf's eval-type inference cannot resolve
    _interp_fn.__annotations__ = {"ts": pd.Series, "return": pd.Series}
    _interp = pandas_udf(_interp_fn, "double")

    return df.withColumn(dest_column, _interp(F.col(time_stamp_column).cast("double")))


# ---------------------------------------------------------------------------
# fills (W1/W2: dfops.py:196-315)
# ---------------------------------------------------------------------------
def _fill_keys(df: DataFrame, file_column: str | Sequence[str]) -> list[str] | None:
    """Resolve the fill's window-partition keys.

    ``file_column`` may be one column or a sequence — e.g. ``("file_id",
    "split_id")`` minted by :func:`~sed_binning_spark.loaders.generic.
    add_file_and_row_ids` — so a single multi-TB file windows per SCAN
    SPLIT instead of serializing into one sort task; the boundary handoff
    below works identically because row order is lexicographic in the key
    tuple. Returns None (global-window mode) when the leading key is
    absent; a missing TRAILING key raises, never silently degrades."""
    keys = [file_column] if isinstance(file_column, str) else list(file_column)
    if not keys:
        raise ValueError("file_column must name at least one column")
    if keys[0] not in df.columns:
        return None
    missing = [k for k in keys[1:] if k not in df.columns]
    if missing:
        raise KeyError(f"window key columns not in dataframe: {missing}")
    return keys


def forward_fill(
    df: DataFrame,
    columns: str | Sequence[str],
    file_column: str | Sequence[str] = FILE_COLUMN,
    row_column: str = ROW_COLUMN,
) -> DataFrame:
    """Forward-fill NaN/NULL values in event order, crossing file boundaries
    (reference forward_fill_lazy, sed/core/dfops.py:196-255, which needs a
    map_overlap + iterations hack; a Spark window crosses partitions in one
    pass).

    Scale design: a single global orderBy window would sort-shuffle 100 TB
    into one task chain. Instead: (1) per-file window fill — parallel across
    files; (2) per-file LAST non-null value — a tiny one-row-per-file
    aggregate, forward-filled across the file sequence by an ordered window
    over that aggregate (in-plan: nothing is collected, so a million-file
    corpus never lands on the driver); (3) broadcast the per-file boundary
    value back and coalesce. Net cost: one small agg +
    one broadcast join, no global sort. ``file_column`` may be a sequence
    of keys (e.g. ``("file_id", "split_id")``) to sub-divide giant files by
    scan split with the same handoff.
    """
    return _fill(df, columns, file_column, row_column, forward=True)


def backward_fill(
    df: DataFrame,
    columns: str | Sequence[str],
    file_column: str | Sequence[str] = FILE_COLUMN,
    row_column: str = ROW_COLUMN,
) -> DataFrame:
    """Backward-fill (mirror of :func:`forward_fill`; reference
    backward_fill_lazy, sed/core/dfops.py:258-315)."""
    return _fill(df, columns, file_column, row_column, forward=False)


def _fill(df, columns, file_column, row_column, forward: bool) -> DataFrame:
    """The three-phase fill plan of both directions. A backward fill is the
    forward plan over DESCENDING row and key order.

    "First non-null at-or-after the current row" is expressed as a RUNNING
    last() over descending row order, not first() over a (currentRow,
    unboundedFollowing) frame: Spark evaluates an unbounded-FOLLOWING frame
    by rebuilding the aggregate from scratch for every row — O(rows²) per
    partition, measured 42 s on a 100k-row frame where the descending
    running frame (identical values; ties were order-nondeterministic in
    both forms) takes the same O(n) path as the forward fill."""
    if isinstance(columns, str):
        columns = [columns]
    columns = list(columns)
    if len(columns) == 0:
        raise ValueError("columns must be a non-empty list of column names!")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in dataframe: {missing}")

    def order(c):
        return F.col(c).asc() if forward else F.col(c).desc()

    keys = _fill_keys(df, file_column)
    # phase 1: running last() per file (or per split); a single ordered
    # stream (no key column: small data / tests) is one global window
    w = Window.partitionBy(*keys) if keys is not None else Window
    w = w.orderBy(order(row_column)).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in columns:
        out = out.withColumn(c, F.last(_nan_to_null(df, c), ignorenulls=True).over(w))
    if keys is None:
        return out

    # phase 2: per-key boundary value (LAST non-null going forward, FIRST
    # going backward), then the carry across the key sequence as a running
    # last() over the strictly-PRECEDING keys in fill order (tuple reverse
    # sort == orderBy every key desc) — computed IN-PLAN over the tiny
    # one-row-per-key aggregate (the old driver collect + Python carry loop
    # blocked query build on a Spark job and would land one row per file on
    # the driver at 100 TB scale; the ordered window over the aggregate is
    # one single-task stage over #files rows inside the same job).
    # Aggregates over the RAW frame: the boundary non-null per key is
    # identical either way, and aggregating `out` would execute the phase-1
    # sort window once extra. max_by/min_by only select rows where the
    # column is valid, so boundary values are never NaN and
    # last(ignorenulls) reproduces the `is not None` carry exactly;
    # orderBy over the keys matches the old Python tuple sort for every
    # orderable key type (UTF8 binary order == code-point order).
    pick, tag = (F.max_by, "__ff_") if forward else (F.min_by, "__bf_")
    aggs = [
        pick(c, F.when(_nan_to_null(df, c).isNotNull(), F.col(row_column)))
        .alias(f"{tag}{c}")
        for c in columns
    ]
    wseq = Window.orderBy(*map(order, keys)).rowsBetween(Window.unboundedPreceding, -1)
    bdf = df.groupBy(*keys).agg(*aggs).select(
        *keys,
        *[
            F.last(f"{tag}{c}", ignorenulls=True).over(wseq).alias(f"{tag}{c}")
            for c in columns
        ],
    )

    # phase 3: broadcast the boundary values, coalesce into leading nulls
    out = out.join(F.broadcast(bdf), on=keys, how="left")
    for c in columns:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"{tag}{c}")))
    return out.drop(*[f"{tag}{c}" for c in columns])


def _nan_to_null(df: DataFrame, col: str) -> Column:
    """Treat float NaN like NULL (pandas ffill semantics: NaN is missing).
    Non-floating columns have no NaN — passed through untouched."""
    c = F.col(col)
    if dict(df.dtypes).get(col) in ("float", "double"):
        return F.when(~F.isnan(c), c)
    return c


# ---------------------------------------------------------------------------
# offsets (M12: dfops.py:318-443)
# ---------------------------------------------------------------------------
def offset_by_other_columns(
    df: DataFrame,
    target_column: str,
    offset_columns: str | Sequence[str],
    weights: float | Sequence[float],
    reductions: str | Sequence[str] | None = None,
    preserve_mean: bool | Sequence[bool] = False,
    inplace: bool = True,
    rename: str | None = None,
) -> DataFrame:
    """``target += sum_i w_i * col_i`` where each term is per-row or the
    GLOBAL MEAN of that column; ``preserve_mean`` subtracts the mean back
    (sed/core/dfops.py:318-443 — validation errors match).

    Mean terms fold in as literals from one ``df.agg`` pass (a scalar
    collect), so the per-row plan stays a pure projection.
    """
    if target_column not in df.columns:
        raise KeyError(f"{target_column} not in dataframe!")
    if isinstance(offset_columns, str):
        offset_columns = [offset_columns]
    elif not isinstance(offset_columns, Sequence):
        raise TypeError(f"Invalid type for columns: {type(offset_columns)}")
    if any(c not in df.columns for c in offset_columns):
        raise KeyError(f"{offset_columns} not in dataframe!")

    if isinstance(weights, (int, float, np.floating, np.integer)):
        weights = [weights]
    elif not isinstance(weights, Sequence):
        raise TypeError(f"Invalid type for signs: {type(weights)}")
    if len(weights) != len(offset_columns):
        raise ValueError("signs and offset_columns must have the same length!")

    if isinstance(reductions, str) or reductions is None:
        reductions = [reductions] * len(offset_columns)
    elif not isinstance(reductions, Sequence):
        raise ValueError(
            f"reductions must be a string or list of strings! not {type(reductions)}",
        )
    if any(r not in ("mean", None) for r in reductions):
        raise NotImplementedError("Only reductions currently supported is 'mean'!")
    if len(reductions) != len(offset_columns):
        # the zip below would silently drop trailing offset columns
        raise ValueError("reductions and offset_columns must have the same length!")

    if isinstance(preserve_mean, bool):
        preserve_mean = [preserve_mean] * len(offset_columns)
    elif not isinstance(preserve_mean, Sequence):
        raise TypeError(f"Invalid type for preserve_mean: {type(preserve_mean)}")
    elif any(not isinstance(p, bool) for p in preserve_mean):
        raise TypeError(f"Invalid type for preserve_mean: {type(preserve_mean)}")
    if len(preserve_mean) != len(offset_columns):
        raise ValueError("preserve_mean and offset_columns must have the same length!")

    # one aggregation pass for every needed mean; NaN masks to NULL first
    # (Spark avg skips NULL but PROPAGATES NaN — the reference's pandas
    # .mean() skips NaN, and pre-fill slow channels routinely contain NaN)
    need_mean = [
        c for c, r, p in zip(offset_columns, reductions, preserve_mean) if r or p
    ]
    means: dict[str, float] = {}
    if need_mean:
        row = df.agg(
            *[F.mean(_nan_to_null(df, c)).alias(c) for c in need_mean],
        ).collect()[0]
        for c in need_mean:
            if row[c] is None:
                raise ValueError(
                    f"offset column {c!r} has no non-missing values — "
                    "cannot compute its mean",
                )
            means[c] = float(row[c])

    expr: Column = F.col(target_column)
    for col, w, red, pm in zip(offset_columns, weights, reductions, preserve_mean):
        w = float(w)
        if red == "mean":
            expr = expr + F.lit(w * means[col])
        else:
            expr = expr + F.lit(w) * F.col(col)
        if pm:
            expr = expr - F.lit(w * means[col])

    out_col = target_column
    if not inplace:
        out_col = rename if rename is not None else target_column + "_offset"
    return df.withColumn(out_col, expr)
