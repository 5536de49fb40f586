"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship calibrate-and-bin chain on sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-pipeline operators); ``oracle_sql()`` gives the
DuckDB twin for every SQL-expressible one. Spark expression and SQL twin
are generated from the SAME plan-time literals, so pure-arithmetic queries
are bit-identical across engines; the few queries using transcendentals
(exp) or order-dependent double sums round their outputs to 6 decimals on
BOTH sides.

Events-derived sed-style coordinates (identical derivation in both
engines; events.ts is TIMESTAMP(NANOS) → int64 ns):
    X      = (value * 131.0) % 2048.0
    Y      = (value * 17.0 + user_id) % 2048.0
    t      = 60000.0 + value * 120.0         (TOF steps)
    ADC    = 2000.0 + user_id * 119.9
    ts_sec = ns / 1e9
    file_id = user_id % 4, row_id = event_id
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sed_binning_spark.binning.binning import (
    bin_dataframe,
    bin_dataframe_sparse,
    normalization_histogram_sparse_from_timed_dataframe,
    normalization_histogram_sparse_from_timestamps,
)
from sed_binning_spark.binning.expressions import (
    bin_index_expr,
    bin_index_sql,
    bin_index_sql_edges,
)
from sed_binning_spark.binning.utils import bin_centers_to_bin_edges
from sed_binning_spark.calibration.delay import append_delay_axis, delay_sql
from sed_binning_spark.calibration.delay import add_offsets as delay_add_offsets
from sed_binning_spark.calibration.energy import (
    align_dld_sectors,
    append_energy_axis,
    append_tof_ns_axis,
    apply_energy_correction,
    tof2ev_sql,
)
from sed_binning_spark.calibration.momentum import append_k_axis, apply_dfield, k_coordinate_sql
from sed_binning_spark.core.dfops import (
    add_time_stamped_data,
    apply_jitter,
    backward_fill,
    drop_column,
    drop_nan_rows,
    forward_fill,
    map_columns_2d,
    offset_by_other_columns,
)
from sed_binning_spark.loaders.flash import explode_per_electron, split_electron_pulse_frames
from sed_binning_spark.loaders.storage import load_parquet, save_parquet
from sed_binning_spark.loaders.utils import split_channel_bitwise
from sed_binning_spark.pipeline.dedup import (
    exact_dedup,
    exact_dedup_keep_rows,
    minhash_lsh_pairs,
    simhash,
)
from sed_binning_spark.pipeline.multimodal import (
    extract_features,
    frame_sample_plan,
    gif_fixture_n_bytes,
    png_fixture_n_bytes,
    sample_audio_windows,
    sample_frames,
    synthesize_animated_gif_media_from_text,
    synthesize_wav_media_from_text,
    synthesize_gif_media_from_text,
    synthesize_png_media_from_text,
    synthesize_ppm_media_from_text,
)
from sed_binning_spark.pipeline.cluster import embedding_dedup
from sed_binning_spark.pipeline.similarity import (
    cosine_pairs_brute,
    cosine_topk,
    ivf_topk,
    ivf_train_centroids,
    lsh_bucket_pairs,
    pca_apply,
    pca_fit,
    pq_encode,
    pq_topk,
)
from sed_binning_spark.pipeline.text import (
    PII_PATTERNS,
    STOPWORDS,
    document_fingerprint,
    dup_line_stats,
    language_id,
    pii_stats,
    quality_score,
    scrub_pii,
    text_stats,
)
from sed_binning_spark.sqlgen import (
    fsql,
    hex_to_bigint_sql,
    rk_whole_doc_hash_sql,
    rk_window_hashes_sql,
)

# ---------------------------------------------------------------------------
# shared derivations (Spark + SQL twins from the same literals)
# ---------------------------------------------------------------------------

# NOTE on time: events.ts is a parquet timestamp (generated datasets have
# used both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)). DuckDB reads either at
# microsecond resolution, so the shared currency is exact integer
# MICROseconds: the Spark side converts whatever physical type it sees to
# the same integer DuckDB's `epoch_us(ts)` yields (timezone-independent
# NTZ arithmetic, no session-zone involvement).
_EV_SQL = """
SELECT event_id,
       epoch_us(ts) AS ts,
       user_id,
       event_type,
       value,
       (value * 131.0) % 2048.0 AS X,
       (value * 17.0 + CAST(user_id AS DOUBLE)) % 2048.0 AS Y,
       60000.0 + value * 120.0 AS t,
       2000.0 + CAST(user_id AS DOUBLE) * 119.9 AS ADC,
       CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS ts_sec,
       CAST(user_id % 4 AS INTEGER) AS file_id,
       event_id AS row_id
FROM events
"""


# Memo of base-scan *plan objects* (lazy DataFrames — never materialized
# data): every query build re-pays ~0.1-0.2 s of py4j round-trips to
# reconstruct the identical scan + column expressions, and the bench runs
# each query several times. DataFrames are immutable plans, so sharing one
# instance across builds changes nothing downstream (every consumer derives
# new frames). Keyed by (applicationId, session identity, dataset
# freshness token): a restarted SparkContext never sees a stale JVM
# handle, a new session in the same application rebuilds (so per-session
# confs like nanosAsLong are re-applied by the build), and a rewritten
# dataset under the same path invalidates the frozen file-listing
# snapshot. Every miss prunes the entries of other applications and the
# other sessions' or stale entries of the same scan, so a driver that
# cycles contexts (pytest, repeated in-process benches) or sessions
# (spark.newSession()) keeps one entry per scan and never accumulates dead
# py4j handles or the sessions they pin.
_SCAN_MEMO: dict = {}


def _scan_memo(spark: SparkSession, key: tuple, path: str, build):
    app = spark.sparkContext.applicationId
    try:
        st = os.stat(path)
        fresh = (st.st_size, st.st_mtime_ns)
    except OSError:
        fresh = None
    full = (app, id(spark), *key, fresh)
    df = _SCAN_MEMO.get(full)
    if df is None:
        for k in [k for k in _SCAN_MEMO if k[0] != app or k[2:-1] == key]:
            del _SCAN_MEMO[k]
        df = build()
        _SCAN_MEMO[full] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_memo(
        spark, ("events", sf_dir), f"{sf_dir}/events.parquet",
        lambda: _events_build(spark, sf_dir),
    )


def _events_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TIMESTAMP(NANOS) parquet columns only read (as int64 ns) with this
    # legacy conf; TIMESTAMP(MICROS) reads as timestamp_ntz/timestamp.
    # Deliberately session-wide, matching the engine default in
    # sed_binning_spark.session (integer nanos are the engine's currency for
    # oracle-exact event-time arithmetic on ANY nanos parquet, not just this
    # table); set here too because the driver may hand us a bare session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # int64 nanoseconds
        df = df.withColumn("ts", F.expr("ts div 1000"))
    elif ts_type == "timestamp_ntz":
        # naive timestamp -> µs since epoch without touching the session zone
        df = df.withColumn(
            "ts",
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )
    else:  # instant (UTC-adjusted) timestamp
        df = df.withColumn("ts", F.expr("unix_micros(ts)"))
    df = df.withColumns({
        "X": (F.col("value") * F.lit(131.0)) % F.lit(2048.0),
        "Y": (F.col("value") * F.lit(17.0) + F.col("user_id").cast("double")) % F.lit(2048.0),
        "t": F.lit(60000.0) + F.col("value") * F.lit(120.0),
        "ADC": F.lit(2000.0) + F.col("user_id").cast("double") * F.lit(119.9),
        "ts_sec": F.col("ts").cast("double") / F.lit(1000000.0),
        "file_id": (F.col("user_id") % F.lit(4)).cast("int"),
        "row_id": F.col("event_id"),
    })
    # No _split_small_scan here: per-event expressions are trivial next to
    # an Exchange of the whole table, and the aggregation queries (binning,
    # norm_hists) already do map-side partial aggregation on their OWN
    # shuffle — the pre-split just added a full raw-event exchange in
    # front. Interleaved A/B at sf0.1, split vs raw: binning_1d 0.97→0.33,
    # binning_2d3d 1.5→0.6, dfield_correction 1.9→0.58, bias_normspec
    # 1.8→1.1, norm_hists 2.9→1.9 s — raw won on all 18 event queries
    # measured. (The docs scan keeps its split: per-doc HOF work is heavy
    # enough that 32-way parallelism wins there, e.g. doc_hashes 0.9 vs
    # 3.3 s.) At 100 TB the scan yields native splits and this was a
    # no-op anyway.
    return df


def _split_small_scan(spark: SparkSession, df: DataFrame, path: str, key: str) -> DataFrame:
    """A single small parquet file scans as ONE task (a file only splits at
    maxPartitionBytes granularity, and a single row group not at all), so
    every downstream map/HOF expression of a query serializes on one core
    at toy scale while a multi-file 100 TB scan parallelizes natively.
    Hash-repartition tiny scans to the session parallelism so local runs
    exercise the same parallel plan shape a production scan gets for free.
    Data-size-derived, not core-count-tuned: when the input already yields
    at least `parallelism` splits this is a no-op (no shuffle at scale),
    and the hash layout keeps the placement deterministic for any seeded
    layout-dependent consumer (unlike round-robin)."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    try:
        mpb = int("".join(
            c for c in spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728",
            ) if c.isdigit()
        ) or "134217728")
    except Exception:
        mpb = 134217728
    # the RUNNING session's core count (local[N] -> N), so the driver's
    # lower-core bench run scales its split count the same way
    par = spark.sparkContext.defaultParallelism
    if -(-size // mpb) >= par:
        return df
    return df.repartition(par, F.col(key))


def _docs(spark: SparkSession, sf_dir: str, split: bool = True) -> DataFrame:
    # split=False keeps the raw scan layout for queries whose cost is a
    # fixture-payload decode stage, not per-document expressions: there
    # the one-task legs run concurrently as a union and each leg's
    # per-batch decode memo sees every fixture repeat (decode once per
    # distinct payload); splitting or payload-colocating was measured
    # 1.5-2x worse both ways on those queries (extra exchanges/stages)
    def build():
        path = f"{sf_dir}/documents.parquet"
        df = spark.read.parquet(path)
        return _split_small_scan(spark, df, path, "doc_id") if split else df

    return _scan_memo(spark, ("docs", sf_dir, split),
                      f"{sf_dir}/documents.parquet", build)


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No _split_small_scan here: every embeddings consumer either collects
    # the corpus (the broadcast-vectorized pair/dedup routes, the training
    # sample/moment passes) or runs one vectorized UDF over it, so at toy
    # scale a core-count split just shrinks Arrow batches to ~60 rows and
    # adds an Exchange that EACH of ann_topk's seven union legs re-pays
    # (interleaved A/B: ann_topk 5.8 -> 2.6 s, ann_pairs_lsh 4.0 -> 2.6 s).
    # At scale the file yields native splits and the repartition was a
    # no-op anyway — the split only ever fired where it hurt.
    return _scan_memo(
        spark, ("embeds", sf_dir), f"{sf_dir}/embeddings.parquet",
        lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
    )


def _binning_sql(nbins_ranges: list, group_names: list[str], src_sql: str = _EV_SQL) -> str:
    """Oracle for the sparse N-D binning queries: same bin-index arithmetic,
    NULL (out-of-range/NaN) rows dropped, grouped count."""
    exprs = []
    for (col, nbins, lo, hi), name in zip(nbins_ranges, group_names):
        exprs.append(f"{bin_index_sql(col, nbins, lo, hi)} AS {name}")
    names = ", ".join(group_names)
    notnull = " AND ".join(f"{n} IS NOT NULL" for n in group_names)
    return (
        f"SELECT {names}, count(*) AS cnt FROM "
        f"(SELECT {', '.join(exprs)} FROM ({src_sql})) WHERE {notnull} "
        f"GROUP BY {names}"
    )


# sector delays for the M7 query (literals shared by both engines)
_SECTOR_DELAYS = [0.0, 1.5, -2.0, 3.25, 0.5, -0.75, 2.0, -1.25]

# M13 external series (timestamps span every sf's ts range; clamped outside)
_INTERP_XS = np.linspace(1.700e9, 1.710e9, 9)
_INTERP_YS = np.array([0.0, 1.0, 4.0, 9.0, 16.0, 9.0, 4.0, 1.0, 0.0])

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

# non-uniform explicit bin centers for the A3 path
_NU_CENTERS = np.array([10.0, 20.0, 50.0, 100.0, 200.0, 400.0])

# ANN query vector (deterministic)
_QVEC = np.round(np.sin(np.arange(64) * 0.37), 6)

# quality_score slot: LITERAL classifier model — apply is a closed-form
# standardize → dot → sigmoid both engines recompute from these constants
_CLF_MODEL = {
    "features": [
        "n_chars", "n_ws_tokens", "mean_token_len",
        "punct_ratio", "stopword_ratio", "uniq_token_ratio",
    ],
    "log_features": ["n_chars", "n_ws_tokens"],
    "mean": [6.0, 4.5, 5.0, 0.1, 0.05, 0.5],
    "std": [1.5, 1.2, 2.0, 0.08, 0.04, 0.25],
    "weights": [0.2, -0.1, 0.3, -0.25, 0.15, 0.05],
    "bias": 0.1,
}

# ann_topk slot: LITERAL product-quantizer codebook (m=4 subspaces x 4
# codes over dim 64) — encode's per-subspace argmin and topk's asymmetric
# distance have closed forms the oracle recomputes from these constants
_PQ_MODEL = {
    "dim": 64, "m": 4, "sub_dim": 16, "codes": 4,
    "codebooks": [
        [
            [((s * 31 + c * 17 + i * 7) % 13 - 6) / 8.0 for i in range(16)]
            for c in range(4)
        ]
        for s in range(4)
    ],
}

# ann_topk slot: LITERAL PCA model (k=2 over dim 64) — apply is a
# closed-form centered projection; /8 keeps the division exact (2^-3)
_PCA_MODEL = {
    "dim": 64, "k": 2,
    "mean": [float(v) for v in np.round(np.cos(np.arange(64) * 0.21), 6)],
    "components": [
        [float(v) for v in np.round(np.sin(np.arange(64) * 0.05 + 1.0), 6) / 8.0],
        [float(v) for v in np.round(np.cos(np.arange(64) * 0.07), 6) / 8.0],
    ],
    "explained_variance": [1.0, 1.0],
    "explained_variance_ratio": [0.5, 0.5],
    "whiten": False,
}

# CCNet perplexity-bucket cuts (lang_id slot): LITERAL thresholds, the
# _PCA_MODEL freeze pattern — a query-time approxQuantile fit would be
# approximation-order dependent across engines. These two tercile the
# gate corpus's unigram_logprob at both sf0.01 and sf0.001.
_PPL_CUTS = (-3.404, -3.4)

# C4 line-rule twin construction (doc_hashes slot): fixed lines hitting
# every rule, shared verbatim by the Spark builder and the DuckDB oracle
_C4_FIXED = (
    "\nShort line."
    "\nThis is a perfectly fine line with punctuation."
    "\nThis line has no terminal punctuation at all"
    "\nEnable javascript to view this excellent content now."
    "\nDocument body digest "
)
_C4_TAIL = " closes cleanly today."
_C4_EVEN = "\nAnother good line appears in even documents only."
_C4_BRACE = "\ncode line { with a brace and punctuation too."
_C4_LOREM = "\nthis document contains lorem ipsum filler text sadly."


def _sql_str(s: str) -> str:
    """DuckDB string literal (newlines via chr(10) — embedded newlines in
    a literal survive, but chr(10) keeps the generated SQL greppable)."""
    body = s.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"'{body}'"


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


def _dot_sql(col: str, vec: np.ndarray, cast: str = "DOUBLE") -> str:
    """Left-associated explicit dot product (the SQL twin of dot_expr)."""
    return " + ".join(
        f"CAST({col}[{i + 1}] AS {cast}) * {fsql(v)}" for i, v in enumerate(vec)
    )


def _norm_sql(col: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({col}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"sqrt({terms})"


_STOP_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in STOPWORDS.items()
}
# list_filter strips the empty token regexp_split emits for blank text,
# mirroring pipeline.text.whitespace_tokens' array_remove
def _toks_sql(col: str = "text") -> str:
    """THE dedup-family tokenizer twin (lowercased, empty-token
    stripped), parameterized by column so every oracle uses ONE
    definition. The whitespace class is explicit — RE2's \\s excludes
    \\x0B while Java's includes it, so \\s+ here would tokenize
    vertical-tab documents differently from the engine."""
    return (
        f"list_filter(regexp_split_to_array(trim(lower({col})), "
        f"'{_WS_CLASS}+'), x -> x != '')"
    )


_WS_CLASS = "[ \t\n\x0B\f\r]"  # == Java regex \s, explicit for RE2
_TOKS_SQL = _toks_sql()
_WS_SQL = ("list_filter(regexp_split_to_array(trim(text), "
           f"'{_WS_CLASS}+'), x -> x != '')")


def _grams_sql(n: int) -> str:
    """DuckDB twin of pipeline.dedup.word_shingles restricted to full
    windows (docs with < n tokens yield [], matching repetition_stats'
    no-full-n-gram gate)."""
    return (
        f"CASE WHEN len({_TOKS_SQL}) < {n} THEN [] ELSE "
        f"list_transform(range(1, len({_TOKS_SQL}) - {n - 1} + 1), "
        f"i -> array_to_string({_TOKS_SQL}[i:i+{n - 1}], ' ')) END"
    )


def _rep_frac_sql(col: str, kind: str) -> str:
    """Twin of one repetition_stats column over a grams-list column:
    per-document group-by + (argmax with min-gram tie-break | (count-1)*len
    sum), capped at the document length."""
    if kind == "top":
        chars = (
            "(SELECT max(cnt) * length(min(g) FILTER (cnt = max_cnt)) FROM "
            f"(SELECT g, count(*) AS cnt, max(count(*)) OVER () AS max_cnt "
            f"FROM unnest({col}) AS t(g) GROUP BY g))"
        )
    else:
        chars = (
            f"(SELECT coalesce(sum((cnt - 1) * length(g)), 0) FROM "
            f"(SELECT g, count(*) AS cnt FROM unnest({col}) AS t(g) GROUP BY g) "
            f"WHERE cnt > 1)"
        )
    return (
        f"CASE WHEN text IS NULL THEN NULL "
        f"WHEN length(text) = 0 OR len({col}) = 0 THEN 0.0e0 "
        f"ELSE round(least(CAST({chars} AS DOUBLE), length(text)) / length(text), 6) END"
    )


# ---------------------------------------------------------------------------
# entry — flagship chain on sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: load sf0.001 events → derive coordinates → seeded jitter →
    momentum k-axis → energy calibration → delay calibration + offsets →
    filtered 2-D sparse histogram on (energy, delay)."""
    ev = _events(spark, "/root/testdata/sf0.001")
    ev = apply_jitter(ev, cols=["X", "Y"], cols_jittered=["X", "Y"], amps=0.5, seed=42)
    ev, _ = append_k_axis(ev, _K_CALIB)
    ev, _ = append_energy_axis(ev, _E_FIT)
    ev, _ = append_delay_axis(ev, _DELAY_CALIB)
    ev, _ = delay_add_offsets(ev, constant=0.25, flip_delay_axis=True)
    out = bin_dataframe_sparse(
        ev,
        bins=[120, 40],
        axes=["energy", "delay"],
        ranges=[(20.0, 60.0), (-8.0, 8.0)],
        filters=[{"col": "ADC", "lower_bound": 2000.0, "upper_bound": 20000.0}],
        count_column="cnt",
    )
    return out.select(
        F.col("energy").alias("b0"), F.col("delay").alias("b1"), "cnt",
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q_binning_1d(spark, sf):
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[1000], axes=["t"], ranges=[(60000.0, 120000.0)],
        count_column="cnt",
    ).select(F.col("t").alias("b0"), "cnt")


# A11 bin centers for the normalized-spectrum query (shared with its oracle)
_NORM_CENTERS = np.linspace(0.0, 2048.0, 100, endpoint=False)


def _q_norm_spectrum(spark, sf):
    """A11 + J6: acquisition-time-normalized spectrum — binned counts
    divided per-bin by the timed-dataframe normalization histogram (the
    sparse twin of SedProcessor.compute(normalize_to_acquisition_time=axis),
    processor.py:437-480; reference sed/core/processor.py:2260-2293)."""
    ev = _events(spark, sf)
    counts = bin_dataframe_sparse(
        ev, bins=[_NORM_CENTERS], axes=["X"], count_column="cnt",
    )
    hist = normalization_histogram_sparse_from_timed_dataframe(
        ev, "X", _NORM_CENTERS, 0.001,
    )
    return (
        counts.join(hist, counts["X"] == hist["bin"])
        .select(
            F.col("bin").alias("b0"),
            F.round(F.col("cnt") / F.col("time"), 6).alias("rate"),
        )
    )


def _q_flash_pulse_frame(spark, sf):
    """J4: per-train pulse vectors -> one row per (trainId, pulseId) with
    pulseId = array position (explode_per_pulse; reference
    create_multi_index_per_pulse, flash/loader.py:286-308). Events are
    packed into per-train arrays ordered by event_id; the oracle derives
    the same positions with a window function."""
    from sed_binning_spark.loaders.flash import explode_per_pulse

    ev = _events(spark, sf)
    hits = F.sort_array(F.collect_list(F.struct(
        F.col("event_id").alias("eid"), F.col("value").alias("val"),
    )))
    trains = ev.groupBy((F.col("user_id") % 20).alias("trainId")).agg(hits.alias("hits"))
    src = trains.select(
        "trainId",
        F.transform("hits", lambda h: h["eid"]).alias("eid"),
        F.transform("hits", lambda h: h["val"]).alias("val"),
    )
    out = explode_per_pulse(src, ["eid", "val"])
    return out.select("trainId", "pulseId", "eid", "val")


def _q_binning_4d(spark, sf):
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[20, 20, 20, 20], axes=["X", "Y", "t", "ADC"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0), (2000.0, 20000.0)],
        count_column="cnt",
    ).select(F.col("X").alias("b0"), F.col("Y").alias("b1"),
             F.col("t").alias("b2"), F.col("ADC").alias("b3"), "cnt")


def _q_binning_2d3d(spark, sf):
    """A2/A4 mid-dimensional coverage: a 2-D and a 3-D sparse histogram of
    the same frame, unioned with a dims tag (the 2-D half carries a NULL
    b2) so both plans are cross-engine-checked in one oracle row."""
    ev = _events(spark, sf)
    b2 = bin_dataframe_sparse(
        ev, bins=[40, 40], axes=["X", "Y"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0)], count_column="cnt",
    ).select(
        F.lit("2d").alias("dims"), F.col("X").alias("b0"),
        F.col("Y").alias("b1"), F.lit(None).cast("bigint").alias("b2"), "cnt",
    )
    b3 = bin_dataframe_sparse(
        ev, bins=[15, 15, 15], axes=["X", "Y", "t"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0)],
        count_column="cnt",
    ).select(
        F.lit("3d").alias("dims"), F.col("X").alias("b0"),
        F.col("Y").alias("b1"), F.col("t").alias("b2"), "cnt",
    )
    return b2.unionByName(b3)


def _q_aux_combine(spark, sf):
    """J2: one per-train aux vector sliced into named scalar channels
    (combine_aux_channels; reference flash/loader.py:414-426). The 'probe'
    slice index exceeds every train's vector length, exercising the
    try_element_at NULL contract for configs naming more slices than the
    run recorded."""
    from sed_binning_spark.loaders.flash import combine_aux_channels

    ev = _events(spark, sf)
    aux = F.transform(
        F.sort_array(F.collect_list(F.struct(
            F.col("event_id").alias("eid"), F.col("value").alias("v"),
        ))),
        lambda h: h["v"],
    )
    trains = ev.groupBy((F.col("user_id") % 20).alias("trainId")).agg(aux.alias("aux"))
    return combine_aux_channels(
        trains, "aux", {"bias": 0, "gain": 2, "probe": 600000},
    )


def _q_diag_grid(spark, sf):
    """A12: the diagnostics histogram grid in sparse form — every axis
    binned in ONE scan via explode (event_histogram_grid_sparse)."""
    from sed_binning_spark.diagnostics import event_histogram_grid_sparse

    return event_histogram_grid_sparse(
        _events(spark, sf), axes=["X", "Y", "t", "ADC"], bins=40,
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0),
                (2000.0, 20000.0)],
    )


def _q_binning_edges(spark, sf):
    """A3 + P3 merged: explicit non-uniform bin edges over a pre-binning
    strict-open-interval filter chain."""
    return bin_dataframe_sparse(
        _events(spark, sf), bins=[_NU_CENTERS], axes=["value"], count_column="cnt",
        filters=[{"col": "ADC", "lower_bound": 5000.0, "upper_bound": 15000.0}],
    ).select(F.col("value").alias("b0"), "cnt")


def _q_sink_roundtrip(spark, sf):
    """K1 + K2 + K3 + K4: bin a 2-D cube, write it through the extension
    dispatcher with the built-in TIFF, HDF5, and NeXus writers, read all
    three back, and return the HDF5 round-trip as occupied cells — gated
    against the binning oracle, so any writer/reader corruption of values
    or axis order turns the row red. The TIFF payload (values only,
    ImageJ axis order) and the NXdata signal block are cross-checked
    in-query against the HDF5 round-trip."""
    import hashlib

    from sed_binning_spark.io.dispatch import save
    from sed_binning_spark.io.hdf5 import load_h5
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.nexus import _write_basic_nxmpes
    from sed_binning_spark.io.tiff import _imagej_axis_order, load_tiff

    # float32 is the sinks' native cube dtype; counts stay exact below
    # 2^24 per cell, far above any gate sf for this 30x30 grid
    cube = bin_dataframe(
        _events(spark, sf), bins=[30, 30], axes=["X", "Y"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0)],
    )
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"sed_binning_spark_sink_{tag}_{os.getpid()}",
    )
    paths = [base + ".h5", base + ".tiff", base + ".nxs"]
    try:
        save(cube, paths[0])
        save(cube, paths[1])
        # force the structural fallback writer: with pynxtools importable
        # the dispatcher would route to its DataConverter, whose layout
        # this read-back does not (and should not) depend on
        _write_basic_nxmpes(cube, paths[2], "NXmpes")
        back = load_h5(paths[0])
        tif = load_tiff(paths[1])
        want_tif = np.transpose(
            back.data, _imagej_axis_order(back.dims),
        ).astype(np.float32)
        if not np.array_equal(tif.reshape(want_tif.shape), want_tif):
            raise ValueError("TIFF round-trip diverged from the HDF5 round-trip")
        nx = H5File(paths[2]).read("/entry/data/data")
        if not np.array_equal(np.asarray(nx), back.data):
            raise ValueError("NeXus round-trip diverged from the HDF5 round-trip")
    finally:
        for p in paths:
            try:
                os.remove(p)
            except OSError:
                pass
    ii, jj = np.nonzero(back.data)
    rows = [(int(i), int(j), int(back.data[i, j])) for i, j in zip(ii, jj)]
    return spark.createDataFrame(rows, "b0 int, b1 int, cnt bigint")


def _q_binning_partitions(spark, sf):
    ev = _events(spark, sf)
    idx = bin_index_expr("t", 100, 60000.0, 120000.0).alias("b0")
    return (
        ev.select(idx, "file_id").dropna()
        .groupBy("b0", "file_id").agg(F.count(F.lit(1)).alias("cnt"))
    )


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


def _q_map_drop(spark, sf):
    """M2 + P4 merged: 2-D rotation map, then drop the payload columns the
    downstream analysis never reads."""
    th = 0.25
    c, s = float(np.cos(th)), float(np.sin(th))

    def rot(x, y):
        return (x * F.lit(c) - y * F.lit(s), x * F.lit(s) + y * F.lit(c))

    ev = map_columns_2d(_events(spark, sf), rot, "X", "Y", "Xr", "Yr")
    ev = drop_column(ev, ["props", "event_type", "ts", "X", "Y"])
    return ev.select("event_id", "user_id", "value", "Xr", "Yr")


def _q_nan_drop(spark, sf):
    """P5: electron-frame dropna — NULL and float-NaN rows both rejected
    (sed/loader/flash/loader.py:822-824)."""
    ev = _events(spark, sf).withColumns({
        "sv1": F.when(F.col("event_id") % 7 != 0, F.col("value")),
        "sv2": F.when(F.col("event_id") % 11 == 0, F.lit(float("nan")))
        .otherwise(F.col("ADC")),
    })
    return drop_nan_rows(ev, ["sv1", "sv2"]).select("event_id", "sv1", "sv2")


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


def _q_interp(spark, sf):
    ev = add_time_stamped_data(
        _events(spark, sf), _INTERP_XS, _INTERP_YS,
        dest_column="chan", time_stamp_column="ts_sec",
    )
    return ev.select("event_id", "chan")


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


def _q_channel_join(spark, sf):
    """J1 + J5: multi-channel frame assembly — an electron-level channel
    frame full-outer-joined with a per-train scalar frame on their shared
    index columns (concatenate_channels; reference flash/loader.py:543-587).
    The per-train value repeats onto every electron of the train, the
    reference's aligned-index broadcast."""
    from sed_binning_spark.loaders.flash import concatenate_channels

    ev = _events(spark, sf)
    hits = F.sort_array(F.collect_list(F.struct(
        F.col("event_id").alias("eid"),
        (F.col("event_id") % 7).alias("pulse"),
        F.col("val").alias("val"),
    )))
    trains = (
        ev.withColumnRenamed("value", "val")
        .groupBy((F.col("user_id") % 20).alias("trainId"))
        .agg(hits.alias("hits"))
    )
    src = trains.select(
        "trainId",
        F.transform("hits", lambda h: h["pulse"] + F.lit(5)).alias("pulseId"),
        F.transform("hits", lambda h: h["eid"]).alias("eid"),
        F.transform("hits", lambda h: h["val"]).alias("val"),
    )
    electron = explode_per_electron(src, "pulseId", ["eid", "val"], ubid_offset=5)
    train = ev.groupBy((F.col("user_id") % 20).alias("trainId")).agg(
        F.round(F.avg("value"), 6).alias("bias"),
    )
    out = concatenate_channels([electron, train], keys=("trainId", "pulseId", "electronId"))
    return out.select("trainId", "pulseId", "electronId", "eid", "val", "bias")


def _q_dedup_clusters(spark, sf):
    """Near-dup cluster resolution: LSH candidate pairs -> connected
    components (hash-min label propagation) -> (doc_id, component) labels.
    The iterative-join operator the DuckDB oracle reproduces with a
    recursive CTE."""
    from sed_binning_spark.pipeline.cluster import connected_components

    pairs = minhash_lsh_pairs(_docs(spark, sf), num_hashes=8, bands=4, shingle_size=3)
    return connected_components(pairs, id_column="doc_id", component_column="component")


def _q_sector_align(spark, sf):
    ev = _events(spark, sf).withColumn(
        "dldSectorID", (F.col("event_id") % 8).cast("int"),
    )
    ev, _ = align_dld_sectors(
        ev, _SECTOR_DELAYS, tof_column="t", sector_id_column="dldSectorID",
    )
    return ev.select("event_id", F.col("t").alias("t_aligned"))


def _q_bitwise_split(spark, sf):
    ev = _events(spark, sf).withColumn(
        # Screen BEFORE floor: Spark's floor(double) is (long)Math.floor,
        # which collapses NaN to 0 and saturates +-inf/huge values to
        # Long.MAX_VALUE — the downstream int cast would then abort under
        # ANSI. A bounded range (NaN/inf fail between()) keeps ti small
        # enough for the tinyint/int split on both engines.
        "ti", F.when(
            ~F.isnan(F.col("value")) & F.col("value").between(-1e7, 1e7),
            F.floor(F.col("value") * 100.0),
        ).cast("bigint"),
    )
    ev = split_channel_bitwise(ev, "ti", ["lo", "hi"], 3, types=["tinyint", "int"])
    return ev.select("event_id", "lo", "hi")


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


def _q_norm_hists(spark, sf):
    """A9 + A10 in one row (merged to free a slot for bias_normspec): the
    timed-dataframe and timestamp-difference normalization histograms,
    union-labeled by source."""
    centers_t = np.linspace(0.0, 2048.0, 100, endpoint=False)
    timed = normalization_histogram_sparse_from_timed_dataframe(
        _events(spark, sf), "X", centers_t, 0.001,
    ).select(F.lit("timed").alias("src"), "bin", "time")
    centers_s = np.linspace(0.0, 2048.0, 50, endpoint=False)
    ts = normalization_histogram_sparse_from_timestamps(
        _events(spark, sf), "X", centers_s, "ts_sec",
    ).select(
        F.lit("timestamps").alias("src"), "bin",
        F.round("time", 6).alias("time"),
    )
    return timed.unionByName(ts)


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
        os.path.dirname(os.path.abspath(__file__)),
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


_DFIELD_N = 2048  # inverse-field grid resolution (detector-sized: step = 1)


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


# mpes ms-marker fixture: monotone with one duplicate (the reference
# documents duplicates in msMarkers); spans the sf0.01 row_id range
_MS_MARKERS = np.array(sorted([13 + 137 * i for i in range(64)] + [13 + 137 * 4]))
_MPES_START = 1.65e9


def _q_mpes_timestamps(spark, sf):
    """S4 timestamp synthesis: per-event epoch seconds from ms markers
    (searchsorted-right of the event index, Arrow-batched UDF).

    Also carries S3 (run-ID resolution, reference mpes loader.py:673-715)
    as a flag: a scratch dir is seeded with Scan0030_{2,10}.h5, a nested
    Scan0030_5.h5, and decoys (other run, other extension); ``runs_ok``
    is True only when ``get_files_from_run_id(30)`` returns exactly the
    run's files in NATURAL order (Scan0030_2 before Scan0030_10 —
    lexical would swap them), recurses into subdirs, skips the decoys,
    and raises FileNotFoundError on a missing run."""
    from sed_binning_spark.loaders.mpes import (
        append_event_timestamps,
        get_files_from_run_id,
    )

    import shutil

    d = os.path.join(
        tempfile.gettempdir(), f"sed_binning_spark_s3_{os.getpid()}",
    )
    # clear first: stale Scan* debris (pid reuse, older layouts) would
    # silently flip runs_ok and fail the gate as a phantom regression
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "sub"))
    for name in (
        "Scan0030_2.h5", "Scan0030_10.h5",      # natural vs lexical order
        os.path.join("sub", "Scan0030_5.h5"),   # recursion
        "Scan0031_1.h5", "Scan0030_1.txt",      # decoys: other run / ext
    ):
        with open(os.path.join(d, name), "w"):
            pass
    got = [os.path.relpath(p, d) for p in get_files_from_run_id(30, d)]
    ok = got == [
        "Scan0030_2.h5", "Scan0030_10.h5", os.path.join("sub", "Scan0030_5.h5"),
    ]
    try:
        get_files_from_run_id(99, d)
        ok = False
    except FileNotFoundError:
        pass

    ev = append_event_timestamps(_events(spark, sf), _MS_MARKERS, _MPES_START)
    return ev.select("event_id", "timeStamps", F.lit(bool(ok)).alias("runs_ok"))


def _q_mpes_timed(spark, sf):
    """S5 timed dataframe: sample stream values at each ms marker via a
    broadcast (i, marker-1) equi-join on row_id."""
    from sed_binning_spark.loaders.mpes import timed_dataframe_from_markers

    out = timed_dataframe_from_markers(
        _events(spark, sf), _MS_MARKERS, start_time=_MPES_START,
        time_stamps=True, columns=["value", "X"],
    )
    return out.select("ms_id", "value", "X", "timeStamps")


def _q_flash_electron_ids(spark, sf):
    """J3: per-train hit arrays -> electron rows with synthesized
    electronId (posexplode + row_number). Built by packing events into
    per-train arrays (ordered by event_id) and exploding back; the oracle
    computes the same ids directly with a window function."""
    ev = _events(spark, sf)
    hits = F.sort_array(F.collect_list(F.struct(
        F.col("event_id").alias("eid"),
        (F.col("event_id") % 7).alias("pulse"),
        F.col("value").alias("val"),
    )))
    trains = ev.groupBy((F.col("user_id") % 20).alias("trainId")).agg(hits.alias("hits"))
    src_df = trains.select(
        "trainId",
        F.transform("hits", lambda h: h["pulse"] + F.lit(5)).alias("pulseId"),
        F.transform("hits", lambda h: h["eid"]).alias("eid"),
        F.transform("hits", lambda h: h["val"]).alias("val"),
    )
    out = explode_per_electron(src_df, "pulseId", ["eid", "val"], ubid_offset=5)
    return out.select("trainId", "pulseId", "electronId", "eid", "val")


def _q_sxp_electron_ids(spark, sf):
    """S7: sxp train-chopping demux + per-electron explode. Events are
    packed into per-record hit arrays with a sawtooth pulse pattern
    [0,2,3,5] (boundary at each 5->0 wrap); chop keeps hits [4k, 4k+3) of
    each sub-train and drops the trailing partial train; num_pulses=3 wraps
    pulse 3 back to 0 so (train, pulse=0) carries two electrons."""
    from sed_binning_spark.loaders.sxp import explode_chopped_electrons

    ev = _events(spark, sf)
    hits = F.sort_array(F.collect_list(F.struct(
        F.col("event_id").alias("eid"), F.col("value").alias("val"),
    )))
    recs = ev.groupBy((F.col("user_id") % 10).alias("rec")).agg(hits.alias("hits"))
    pattern = F.array(*[F.lit(p) for p in (0.0, 2.0, 3.0, 5.0)])
    recs = recs.select(
        (F.lit(100000) * (F.col("rec") + 1)).alias("trainId"),
        F.transform("hits", lambda h, i: F.element_at(pattern, (i % 4) + 1)).alias("pulseId"),
        F.transform("hits", lambda h: h["eid"]).alias("eid"),
        F.transform("hits", lambda h: h["val"]).alias("val"),
    )
    out = explode_chopped_electrons(
        recs, "pulseId", ["eid", "val"], ubid_offset=0, num_pulses=3,
    )
    return out.select("trainId", "pulseId", "electronId", "eid", "val")


# ---- pipeline / LLM-data operators ----------------------------------------

def _q_dedup_exact(spark, sf):
    """Exact dedup, all three grains merged: the surviving rows (keep_rows
    — NULL-text rows all retained) annotated with their digest-class
    duplicate count (exact_dedup), PLUS the segment-grain pass
    (pipeline.dedup.dedup_segments) over a synthesized paragraph twin —
    the corpus has no newlines, so a shared header and a per-(doc_id%5)
    group paragraph are appended by expression on both engines; the
    reassembled text is checked as its md5."""
    from sed_binning_spark.pipeline.dedup import dedup_segments

    # split=False: every grain here immediately hash-aggregates/joins by
    # digest or doc_id (its own shuffle with map-side combine), so the
    # pre-split Exchange was pure overhead — A/B 2.1 -> 1.0 s at sf0.1
    docs = _docs(spark, sf, split=False)
    classes = exact_dedup(docs).select(
        F.col("kept_id").alias("doc_id"), "n_dups",
    )
    kept = exact_dedup_keep_rows(docs).select("doc_id")
    para = docs.select(
        "doc_id",
        F.concat(
            F.lit("shared header\n\n"), F.col("text"), F.lit("\n\ngroup "),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    pcols = dedup_segments(para).select(
        "doc_id",
        F.md5("text_dedup").alias("para_md5"),
        F.col("n_removed").alias("para_removed"),
    )
    return (
        kept.join(classes, on="doc_id", how="left")
        .join(pcols, on="doc_id", how="left")
    )


def _q_text_stats(spark, sf):
    """Scalar text statistics merged with the Gopher n-gram repetition
    signals (pipeline.text.repetition_stats): top-2-gram and dup-5-gram
    character fractions from the sorted-shingle fold, checked against a
    per-document group-by twin.

    Round 11 adds the BPE tier (pipeline.bpe), two checks:

    - ``bpe_rt_md5``: a merge table is TRAINED on the corpus at query
      time (bpe_train's cluster-side word histogram + driver heap
      trainer) and applied by bpe_encode; the Sennrich round-trip
      invariant — concatenating the subwords and turning each ``</w>``
      marker into a space reconstructs the pre-token stream exactly —
      is checked as an md5 the oracle derives from the pre-tokenizer
      alone, so any trained table that is not a true per-word partition
      (or any pre-tokenizer divergence between engines) breaks the hash.
    - ``n_bpe_th``: bpe_encode under the LITERAL one-rule table
      [("t","h")], whose exact subword count has a closed form — per
      word, len(word) minus the 'th' adjacencies that do not sit at the
      word end (the final char carries the ``</w>`` marker, so a
      trailing 'th' never merges; 'th' matches cannot overlap and the
      merged symbol cannot cascade) — checked value-exactly."""
    from sed_binning_spark.pipeline.bpe import bpe_encode, bpe_train
    from sed_binning_spark.pipeline.text import repetition_stats

    docs = _docs(spark, sf)
    merges = bpe_train(docs, num_merges=64, sample_size=2000, seed=7)
    enc = bpe_encode(docs, merges, output_column="bpe_trained")
    enc = bpe_encode(enc, [("t", "h")], output_column="bpe_th")
    out = repetition_stats(text_stats(enc), top_ns=(2,), dup_ns=(5,))
    rt = F.replace(
        F.concat_ws("", F.col("bpe_trained")), F.lit("</w>"), F.lit(" "),
    )
    return out.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("uniq_token_ratio", 6).alias("uniq_token_ratio"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_char_frac"),
        F.when(F.col("text").isNotNull(), F.md5(rt)).alias("bpe_rt_md5"),
        F.when(F.col("text").isNotNull(), F.size("bpe_th"))
        .cast("bigint").alias("n_bpe_th"),
    )


def _q_lang_id(spark, sf):
    """Stopword language-ID merged with the corpus unigram LM score
    (pipeline.lm.unigram_logprob): self-scored add-1 model, exact
    integer micro-nat mean — the DuckDB twin rebuilds the same model.
    Also carries the domain-mode blocklist audit (pipeline.filters.
    filter_by_blocklist keep='blocked') as a flag: a synthetic host
    'hN.data.example' is minted from doc_id (schema-independent — the
    dirty-corpus suite has no source column) and the blocklist names two
    of the twenty host groups, exercising the suffix-match path.

    Round 11 adds the URL tier (pipeline.url): every doc mints a messy
    URL from doc_id — scheme/host case noise, a scheme-default :80,
    shuffled query params with per-doc tracking params (utm_*), a
    fragment — whose CANONICAL form depends only on doc_id % 25, so
    canonicalize_urls must collapse 3 of every 5 docs into 25 groups and
    dedup_by_url must pick min-id winners over them. doc_id % 5 == 3
    rows carry an unparseable URL (passthrough contract: the literal
    string stays the dedup key) and % 5 == 4 rows a NULL URL (excluded
    from URL dedup by contract). The oracle predicts the canonical
    string CLOSED-FORM from the construction — independent of
    try_parse_url — and rebuilds the group winners with a plain
    GROUP BY, so a canonicalization bug in any component (case, port,
    param filter/sort, fragment) breaks the hash."""
    from sed_binning_spark.pipeline.filters import filter_by_blocklist
    from sed_binning_spark.pipeline.lm import (
        assign_perplexity_buckets,
        unigram_logprob,
    )
    from sed_binning_spark.pipeline.url import canonicalize_urls, dedup_by_url

    did = F.col("doc_id")
    g = (did % 25).cast("string")
    i = did.cast("string")
    scheme = (
        F.when(did % 3 == 0, F.lit("HTTP"))
        .when(did % 3 == 1, F.lit("http"))
        .otherwise(F.lit("hTtp"))
    )
    host = F.when(
        did % 2 == 0,
        F.concat(F.lit("Host"), g, F.lit(".Example.COM")),
    ).otherwise(F.concat(F.lit("host"), g, F.lit(".example.com")))
    port = F.when(did % 3 == 0, F.lit(":80")).otherwise(F.lit(""))
    qs = F.when(
        did % 2 == 0,
        F.concat(F.lit("?a=1&z=2&utm_source=u"), i),
    ).otherwise(F.concat(F.lit("?z=2&utm_campaign=c"), i, F.lit("&a=1")))
    messy = F.concat(
        scheme, F.lit("://"), host, port, F.lit("/p"), g, qs, F.lit("#f"), i,
    )
    url_expr = (
        F.when(did % 5 == 4, F.lit(None).cast("string"))
        .when(did % 5 == 3, F.concat(F.lit("no scheme url "), i))
        .otherwise(messy)
    )

    docs = _docs(spark, sf).withColumns({
        "host": F.concat(
            F.lit("h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".data.example"),
        ),
        "url": url_expr,
    })
    blocked = filter_by_blocklist(
        docs, ["h3.data.example", "h7.data.example"], "host",
        keep="blocked", match="domain",
    ).select("doc_id", F.lit(True).alias("__hit"))
    canon = canonicalize_urls(docs, "url", "url_canon")
    dd = dedup_by_url(docs, "url").select(
        F.col("canonical_url").alias("url_canon"),
        F.col("kept_id").alias("url_kept_id"),
        F.col("n_dups").alias("url_n_dups"),
    )
    # round 12: the CCNet bucket leg — assign_perplexity_buckets under
    # LITERAL thresholds (the _PCA_MODEL pattern: approxQuantile-fit cuts
    # are approximation-order dependent, so the gate freezes them; these
    # two tercile the gate corpus at both sf grains). The twin replays
    # the same CASE over ITS OWN lp derivation, so the bottom-up cut
    # order, the <= boundary, and the NULL-score bucket are all checked.
    out = assign_perplexity_buckets(
        unigram_logprob(language_id(docs)), [_PPL_CUTS[0], _PPL_CUTS[1]],
    )
    out = (
        out.join(blocked, "doc_id", "left")
        .join(canon.select("doc_id", "url_canon"), "doc_id", "left")
        .join(dd, "url_canon", "left")
    )
    return out.select(
        "doc_id", "lang_pred", "unigram_logprob", "ppl_bucket",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("src_blocked"),
        "url_canon", "url_kept_id", "url_n_dups",
    )


def _q_quality(spark, sf):
    """Text-curation row, merged: Gopher-style quality score + keep flag
    over the raw text, PLUS the PII audit/redaction pass (pii_stats,
    scrub_pii, dup_line_stats) over a deterministic PII-laden twin text —
    the corpus has no URLs/emails/IPs/phones, so spans are synthesized from
    doc_id by expression (the synthesize_ppm trick) and both engines
    regenerate the identical input. The scrubbed text is checked as its
    md5, proving the regexp_replace chains mask identical spans."""
    docs = _docs(spark, sf).withColumn(
        "pii_text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via http://ex.com/"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel +1 555-010-9876"),
            F.lit("\nrepeat line\nrepeat line"),
        ),
    )
    from sed_binning_spark.pipeline.classifier import (
        quality_classifier_apply,
        quality_classifier_fit,
    )
    from sed_binning_spark.pipeline.filters import badword_stats
    from sed_binning_spark.pipeline.text import dup_segment_stats

    # round 11: the trainable quality classifier, two checks. (1) apply
    # under the LITERAL model below — standardize → dot → sigmoid is a
    # closed form the oracle recomputes from the same constants; (2) fit
    # at query time on an even/odd split of the corpus — the model's
    # n_train equals the number of DISTINCT usable feature vectors per
    # class (the 50k cap never binds at gate scale), which the oracle
    # counts as distinct RAW-stat tuples (the feature map is injective
    # in them), exercising the cluster-side weighted-histogram path.
    # split=False for the fit's scan: both class jobs immediately
    # hash-aggregate distinct feature vectors (their own shuffle), so
    # the pre-split Exchange was pure overhead — fit A/B 1.45 -> 0.98 s.
    # The fit's two tiny Spark jobs then run on a driver thread so they
    # overlap the ~0.8 s of py4j plan construction below (guide §2.6 —
    # only the scalar n_train literal is needed, at the very end).
    from concurrent.futures import ThreadPoolExecutor

    base = _docs(spark, sf, split=False)
    with ThreadPoolExecutor(1) as pool:
        fit_fut = pool.submit(
            quality_classifier_fit,
            base.where(F.col("doc_id") % 2 == 0),
            base.where(F.col("doc_id") % 2 == 1),
        )

        docs = scrub_pii(
            dup_line_stats(pii_stats(docs, "pii_text"), "pii_text"),
            "pii_text",
        )
        # duplicate-segment fractions + badword count over the same pii
        # twin (it carries the duplicated 'repeat line' pair by
        # construction)
        docs = dup_segment_stats(docs, "pii_text", granularities=("line",))
        docs = badword_stats(
            docs, ["repeat", "contact"], text_column="pii_text",
        )
        docs = quality_classifier_apply(
            docs, _CLF_MODEL, output_column="clf_prob",
        )
        out = quality_score(docs)
        fitted = fit_fut.result()
    return out.select(
        "doc_id", F.round("quality", 6).alias("quality"), "keep",
        "n_url", "n_email", "n_ip", "n_phone", "dup_line_ratio",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "n_badword_tokens",
        F.md5("text_scrubbed").alias("scrub_md5"),
        F.round("clf_prob", 6).alias("clf_prob"),
        F.coalesce(F.col("clf_prob") >= 0.5, F.lit(False)).alias("clf_keep"),
        F.lit(int(fitted["n_train"])).cast("bigint").alias("clf_n_train"),
    )


_MP4_FIXTURES = None


def _mp4_fixture_blobs():
    """Plan-time MP4 fixtures for the frame_sample slot, two per codec
    family (variant = doc_id % 2). Motion-JPEG variants carry 2+v flat
    16×16 frames of value 8·(4+3f+5v) — multiples of 8 round-trip
    EXACTLY through the JPEG codec (DC quantization divides evenly), so
    the decoded statistics are closed-form. avc1 variants carry 3+w
    opaque payloads of 6+4f+2w bytes behind an stss marking the odd
    samples — the metadata-only path. Returns (mjpeg_blobs,
    mjpeg_frame_sizes, avc1_blobs); frame sizes become oracle literals
    (the frozen-model pattern)."""
    global _MP4_FIXTURES
    if _MP4_FIXTURES is None:
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg
        from sed_binning_spark.pipeline.mp4 import encode_mp4_mjpeg

        mj, sizes = [], []
        for v in range(2):
            frames = [
                encode_image_jpeg(
                    np.full((16, 16, 3), 8 * (4 + 3 * f + 5 * v), np.uint8),
                )
                for f in range(2 + v)
            ]
            sizes.append([len(fb) for fb in frames])
            mj.append(encode_mp4_mjpeg(
                frames, [(3 + f) * 10 for f in range(2 + v)],
                width=16, height=16,
            ))
        av = []
        for w in range(2):
            n = 3 + w
            av.append(encode_mp4_mjpeg(
                [b"\x00" * (6 + 4 * f + 2 * w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                sync_samples=list(range(1, n + 1, 2)),
            ))
        # round 13: the B-frame timing shape — per-sample ctts offsets
        # (30·((f+w) % 2)) plus a 50 ms leading empty edit and a rate-1
        # zero-media-time edit, so presentation times are the closed
        # form 5f(f+3) + 30·((f+w)%2) + 50; no stss → every sample sync
        avb = []
        for w in range(2):
            n = 3 + w
            avb.append(encode_mp4_mjpeg(
                [b"\x00" * (6 + 4 * f + 2 * w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                composition_offsets_ms=[30 * ((f + w) % 2) for f in range(n)],
                elst_media_time_ms=0, elst_empty_ms=50,
            ))
        # round 13: the fragmented (DASH/CMAF) shape — moof/traf/trun
        # timing with 2-sample fragments whose first sample is sync, so
        # keyframe = (f % 2 == 0) and start stays the 5f(f+3) closed form
        from sed_binning_spark.pipeline.mp4 import encode_mp4_fragmented

        frg = []
        for w in range(2):
            n = 4 + w
            frg.append(encode_mp4_fragmented(
                [b"\x00" * (5 + 2 * f + w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                frames_per_fragment=2,
            ))
        # round 13: WebM — BlockGroup timing at the 5f(f+3) closed form,
        # so delays are the deltas 10f+20 with an honest NULL on the
        # final block (Matroska requires no per-frame duration);
        # keyframe = no ReferenceBlock (even f)
        from sed_binning_spark.pipeline.webm import encode_webm

        wbm = []
        for w in range(2):
            n = 3 + w
            wbm.append(encode_webm(
                [b"\x00" * (7 + 3 * f + w) for f in range(n)],
                [5 * f * (f + 3) for f in range(n)],
                keyframes=[f % 2 == 0 for f in range(n)],
                width=320, height=180, use_block_groups=True,
            ))
        # round 13: the AUDIO-track timeline (soun handler) — same
        # 5f(f+3) closed form; no stss → every sample sync; audio mode
        # reports NULL dims (channels/rate are pytest-pinned metadata)
        m4a = []
        for w in range(2):
            n = 3 + w
            m4a.append(encode_mp4_mjpeg(
                [b"\x00" * (9 + 2 * f + w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                sample_type=b"mp4a", handler=b"soun",
                channels=1 + w, sample_rate=8000 * (1 + w),
            ))
        # round 13: Ogg Opus — every packet a 20 ms SILK-WB TOC (config
        # 9, code 0) + filler, so starts are 20f and sizes 5+2f+w; the
        # parser derives the timing from the TOC byte alone
        from sed_binning_spark.pipeline.ogg import encode_ogg_opus

        ogg = []
        for w in range(2):
            n = 3 + w
            ogg.append(encode_ogg_opus(
                [bytes([(9 << 3) | 0]) + b"\x00" * (4 + 2 * f + w)
                 for f in range(n)],
                channels=1 + w, sample_rate=16000,
            ))
        # round 13: MPEG audio — 32 kHz MPEG-1 Layer III frames are an
        # exact 36 ms; variant bitrates 96/64 kbps give 432/288-byte
        # frames, all closed-form. Round 14: variant 1 leads with a
        # LAME-style Xing metadata frame, which carries no audio — the
        # oracle rows are UNCHANGED, so the hash gate proves the walk
        # excludes it (counting it would add a row and shift every
        # timestamp by 36 ms)
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames

        mp3 = [
            encode_mp3_frames(3 + w, bitrate_kbps=96 - 32 * w,
                              sample_rate=32000,
                              vbr_tag=b"Xing" if w else None)
            for w in range(2)
        ]
        # round 14: LACED WebM audio — how real muxers pack Opus
        # packets. Variant 0 laces Xiph (255-run sizes), variant 1
        # EBML (delta-coded varints); 2 frames per laced block, frame
        # sizes 6+3f+w, timestamps recovered by stepping the track's
        # 20 ms DefaultDuration across each laced block
        wbl = []
        for w in range(2):
            n = 4 + w
            wbl.append(encode_webm(
                [b"\x00" * (6 + 3 * f + w) for f in range(n)],
                [20 * f for f in range(n)],
                track_type=2, codec_id="A_OPUS", channels=2,
                sample_rate=48000.0, default_duration_ms=20,
                lacing="xiph" if w == 0 else "ebml",
                frames_per_block=2,
            ))
        # round 14: ADTS AAC — 1024-sample frames at 16 kHz are an
        # exact 64 ms; payload sizes 10+3f+w give 17+3f+w frame bytes,
        # all closed-form (the 7-byte header carries the length field)
        from sed_binning_spark.pipeline.aac import encode_adts_frames

        aac = [
            encode_adts_frames([10 + 3 * f + w for f in range(3 + w)],
                               sample_rate=16000, channels=1 + w)
            for w in range(2)
        ]
        _MP4_FIXTURES = (mj, sizes, av, avb, frg, wbm, m4a, ogg, mp3,
                         wbl, aac)
    return _MP4_FIXTURES


_IMA_FIXTURES = None


def _ima_fixture():
    """Plan-time ADPCM fixtures for the frame_sample slot (round 13,
    the frozen-model pattern): four deterministic 64-sample 4 kHz sine
    payloads — two through encode_audio_wav(fmt="ima4") (variants 0-1)
    and two through fmt="ms2" (variants 2-3), each one partial block,
    fact-trimmed. ADPCM is lossy, so the oracle cannot re-derive the
    samples from a closed form; instead the ENGINE really decodes inside
    sample_audio_windows while the oracle carries the per-window stats
    computed here ONCE with the identical numpy arithmetic (decode →
    /32768 → mean/std/min/max, full-precision reprs, rounding left to
    each engine's round(…, 6)). Returns (blobs, rows) with rows =
    (variant, window, start_ms, dur_ms, mean, std, min, max)."""
    global _IMA_FIXTURES
    if _IMA_FIXTURES is None:
        from sed_binning_spark.pipeline.multimodal import (
            decode_audio_wav, encode_audio_wav,
        )

        blobs, rows = [], []
        for v in range(4):
            sig = np.round(
                8000.0 * np.sin(np.arange(64) / (3 + v)),
            ).astype(np.int16)
            blob = encode_audio_wav(
                sig, 4000, fmt="ima4" if v < 2 else "ms2",
            )
            blobs.append(blob)
            dec, rate = decode_audio_wav(blob)
            spw = 4 * rate // 1000  # window_ms=4 → 16 samples
            for w in range(4):
                win = dec[w * spw : (w + 1) * spw] / 32768.0
                rows.append((
                    v, w, (w * spw * 1000 + rate // 2) // rate,
                    (spw * 1000 + rate // 2) // rate,
                    float(win.mean()), float(win.std()),
                    float(win.min()), float(win.max()),
                ))
        _IMA_FIXTURES = (blobs, rows)
    return _IMA_FIXTURES


_FLAC_FIXTURES = None


def _flac_fixture():
    """Plan-time FLAC fixtures for the frame_sample slot (round 14).
    FLAC is LOSSLESS, so unlike ADPCM the oracle needs no frozen
    literals: the 64-sample signal is a pure-integer closed form —
    x[i, c] = ((i²·(7+v) + 13·i + 401·c) % 4001) − 2000 — that DuckDB
    re-derives symbolically while the engine must reproduce it by
    actually decoding the payload (frame walk, predictors, Rice,
    mid/side, CRCs, md5). Variant 0 is mono / FIXED order 2 /
    2 Rice partitions; variant 1 is stereo mid-side / LPC — two
    genuinely different decode paths behind one formula."""
    global _FLAC_FIXTURES
    if _FLAC_FIXTURES is None:
        from sed_binning_spark.pipeline.flac import encode_flac

        blobs = []
        i = np.arange(64, dtype=np.int64)
        for v in range(2):
            ch = 1 + v
            sig = np.stack([
                ((i * i * (7 + v) + 13 * i + 401 * c) % 4001) - 2000
                for c in range(ch)
            ], axis=1)
            if v == 0:
                blobs.append(encode_flac(
                    sig, 4000, block_size=32, subframe="fixed",
                    order=2, partition_order=1,
                ))
            else:
                blobs.append(encode_flac(
                    sig, 4000, block_size=64, channel_mode="mid_side",
                    subframe="lpc", lpc_coefs=[3, -1], lpc_shift=1,
                    lpc_precision=4,
                ))
        _FLAC_FIXTURES = blobs
    return _FLAC_FIXTURES


def _q_frame_sample(spark, sf):
    """Video frame sampling, all four legs merged. The 'plan' leg is the
    pure-expression timestamp grid (frame_sample_plan, one row per
    (media, frame timestamp) via sequence+explode, durations synthesized
    from document length). The 'gif' leg (round 11) is the DECODE half:
    every doc_id % 3 == 0 document becomes an expression-built ANIMATED
    GIF89a (three full-screen frames of md5-rotated samples behind
    graphic-control extensions with 20/30/40 ms delays), and
    sample_frames runs the real decode_gif_frames compositing walk
    inside mapInPandas — per-frame start times come from the container's
    own timing metadata and the pixel statistics from the composed
    canvases, all of which the oracle regenerates closed-form from the
    construction (start_f = 5·f·(f+3) ms, samples = md5 bytes rotated by
    the frame index).

    Round 12 adds the MP4 container (pipeline.mp4): the 'mp4j' leg
    (doc_id % 3 == 1) demuxes Motion-JPEG-in-MP4 through the full
    stts/stsc/stco/stsz walk and decodes each sample with the JPEG
    codec — flat 8-multiple frames round-trip exactly, so the oracle
    predicts the pixel statistics closed-form and the sample byte
    extents as frozen fixture literals; the 'avc1' leg (doc_id % 3 ==
    2) is the metadata-only timeline for real codecs: container timing,
    closed-form byte extents (6+4f+2w), stss keyframe flags, and
    sample-entry dimensions with NULL pixel statistics.

    Round 12 also adds the AUDIO twin ('wav', doc_id % 2 == 0): an
    expression-built 8-bit mono RIFF/WAVE whose 16 samples are exactly
    unhex(md5(text)), windowed by sample_audio_windows at the fmt
    chunk's own 1 kHz clock into four 4 ms windows. Every statistic is
    a dyadic rational — (b−128)/128 values, so means/variances round
    NOWHERE in a double — and the twin regenerates mean, std (via the
    mathematically identical msq − mu² form; all intermediates exact,
    so both engines land on the same double), min, and max from the
    same md5 bytes.

    Round 13 gates the keyframes_only sampling mode over the SAME
    fixtures: the 'gifk' leg pins the GIF cap-to-frame-0 rule (frame 0
    is the one independently-decodable frame) and the 'avck' leg pins
    stss pruning before decode with the CONTAINER sample index
    preserved (odd 1-indexed sync samples → even 0-indexed
    frame_index, nothing renumbered). Round 13 also adds: 'avcb' —
    B-frame PRESENTATION timing (signed ctts offsets + an edit list's
    empty-edit delay, closed-form PTS); 'frag' — the fragmented
    DASH/CMAF shape through the real moof/traf/trun walk (tfdt-anchored
    timing, per-sample sync bits); 'webm' — the EBML/Matroska half of
    web video (BlockGroup timing with an honest NULL delay on the final
    block, ReferenceBlock keyframing); 'm4au' — the soun-handler AUDIO
    track timeline through the same operator in media="audio" mode;
    'oggp' — Ogg Opus per-packet timing derived from the RFC 6716 TOC
    byte (CRC-verified page walk, no decoder); 'mp3f' — MPEG audio
    per-frame timing from the pure header walk (exact 36 ms frames at
    32 kHz; round 14 leads variant 1 with a LAME-style Xing metadata
    frame the walk must EXCLUDE — counting it would add a row and
    shift every timestamp); 'aacf' — ADTS AAC per-frame timing from
    the header's explicit 13-bit length field (exact 64 ms frames at
    16 kHz, round 14); 'rsw' — transcode_audio resampling
    the 1 kHz fixture to 500 Hz (integral ratio → exact source picks,
    the even md5 bytes) before windowing; 'ulw'/'alw' — the same md5
    bytes behind ITU-T G.711 format tags, the twin replaying the ITU
    expansion arithmetic per byte; and 'ima'/'msa' — IMA-/MS-ADPCM
    through the real block decoders with plan-time-frozen window
    stats (lossy codecs have no SQL closed form; see _ima_fixture)."""
    # the UNSPLIT scan keeps this whole many-leg union ONE stage of
    # one-task legs that the scheduler runs concurrently: each leg's
    # per-batch decode memo then sees every fixture repeat (decode once
    # per distinct payload), and no per-leg exchanges/AQE stages exist.
    # Splitting the scan was measured 2x WORSE here both ways (fixture
    # legs re-decode per partition; adding payload-hash colocation
    # shuffles got parallel decode back but paid ~20 extra stages).
    docs = _docs(spark, sf, split=False)

    media = docs.select("doc_id", F.col("n_chars").alias("duration_ms"))
    plan = frame_sample_plan(media, every_ms=25, id_column="doc_id")
    plan_leg = plan.select(
        F.lit("plan").alias("leg"), "doc_id",
        F.col("frame_ms").cast("bigint").alias("frame_ms"),
        F.lit(None).cast("int").alias("frame_index"),
        F.lit(None).cast("bigint").alias("delay_ms"),
        F.lit(None).cast("int").alias("fwidth"),
        F.lit(None).cast("int").alias("fheight"),
        F.lit(None).cast("double").alias("fmean"),
        F.lit(None).cast("double").alias("fstd"),
        F.lit(None).cast("double").alias("fmin"),
        F.lit(None).cast("double").alias("fmax"),
        F.lit(None).cast("bigint").alias("fn_bytes"),
        F.lit(None).cast("boolean").alias("fkeyframe"),
    )

    def decoded_leg(frames_df, leg_col, id_expr=None):
        id_expr = F.col("media_id") if id_expr is None else id_expr
        return frames_df.select(
            leg_col.alias("leg"),
            id_expr.alias("doc_id"),
            F.col("frame_ms").cast("bigint").alias("frame_ms"),
            "frame_index",
            F.col("delay_ms").cast("bigint").alias("delay_ms"),
            F.col("width").alias("fwidth"),
            F.col("height").alias("fheight"),
            F.round("mean", 6).alias("fmean"),
            F.round("std", 6).alias("fstd"),
            F.round("min", 6).alias("fmin"),
            F.round("max", 6).alias("fmax"),
            F.col("n_bytes").alias("fn_bytes"),
            F.col("keyframe").alias("fkeyframe"),
        )

    # r15 fold (guide §4.3/§2.1): the per-FIXTURE-leg cost was stage fixed
    # overhead — one scheduler slot + Arrow channel + Python worker round
    # trip per leg, ~19 of them — not decode work (the per-batch memo
    # decodes each distinct fixture once). sample_frames dispatches per
    # payload by magic bytes, so every leg sharing the SAME call args can
    # share ONE mapInPandas stage: the leg rides a composite id
    # (media_id = doc_id * 8 + code, re-derived after decode), and one
    # explode fans each doc out to its fixture families. Row set is
    # bit-identical to the former per-leg unions (oracle hash unchanged).
    def folded_media(entries):
        arr = F.filter(
            F.array(*[
                F.when(cond, F.struct(
                    F.lit(code).cast("long").alias("c"), payload.alias("p"),
                ))
                for cond, code, payload in entries
            ]),
            lambda s: s.isNotNull(),
        )
        ex = docs.select(did.alias("__d"), F.explode(arr).alias("__e"))
        return ex.select(
            (F.col("__d") * 8 + F.col("__e.c")).alias("media_id"),
            F.col("__e.p").alias("payload"),
        )

    def folded_doc_id():
        return F.expr("media_id div 8")

    def folded_label(mapping: dict):
        codes = sorted(mapping)
        lab = F.when(F.col("media_id") % 8 == codes[0], mapping[codes[0]])
        for c in codes[1:-1]:
            lab = lab.when(F.col("media_id") % 8 == c, mapping[c])
        return lab.otherwise(mapping[codes[-1]])

    # The gif/gifk payloads are DISTINCT per document (md5-built), so the
    # per-batch decode memo never helps them and the unsplit one-task leg
    # decodes ~n_docs/3 animated GIFs in pure-Python LZW on ONE core —
    # measured as frame_sample's slowest leg (2.4 s vs ≤0.7 s for every
    # fixture leg, which all run concurrently in the same stage). Split
    # ONLY this branch via the same data-size-derived rule as the docs
    # scan (_split_small_scan: a no-op once the input yields native
    # splits at scale); the fixture legs keep the unsplit scan and their
    # fully-effective memo.
    agif = synthesize_animated_gif_media_from_text(
        _docs(spark, sf).where(F.col("doc_id") % 3 == 0), frames=3,
    )
    gif_leg = decoded_leg(sample_frames(agif), F.lit("gif"))

    # ALL default-args video fixture families through ONE sample_frames
    # stage (see the fold note above): mp4j/avc1 + avcb + frag + webm
    (mj, _sizes, av, avb, frg, wbm, m4a, ogg, mp3, wbl,
     aac) = _mp4_fixture_blobs()
    did = F.col("doc_id")

    def _pick2(blobs):
        return (F.when(did % 2 == 0, F.lit(bytearray(blobs[0])))
                .otherwise(F.lit(bytearray(blobs[1]))))

    vid_media = folded_media([
        (did % 3 == 0, 0, _pick2(avb)),
        (did % 3 == 1, 1, _pick2(mj)),
        (did % 3 == 1, 2, _pick2(frg)),
        (did % 3 == 2, 3, _pick2(av)),
        (did % 3 == 2, 4, _pick2(wbm)),
    ])
    vid_leg = decoded_leg(
        sample_frames(vid_media),
        folded_label({0: F.lit("avcb"), 1: F.lit("mp4j"), 2: F.lit("frag"),
                      3: F.lit("avc1"), 4: F.lit("webm")}),
        id_expr=folded_doc_id(),
    )

    # round 13: the keyframes_only sampling mode, oracle-gated as two
    # sub-legs over the SAME fixtures — 'gifk' pins the GIF cap-to-
    # frame-0 rule (frame 0 is the one independently-decodable frame),
    # 'avck' pins stss pruning BEFORE decode with the CONTAINER sample
    # index preserved (odd 1-indexed sync samples -> even 0-indexed
    # frame_index rows, nothing renumbered)
    gifk_leg = decoded_leg(
        sample_frames(agif, keyframes_only=True), F.lit("gifk"),
    )
    # ALL audio-mode fixture families through ONE sample_frames stage:
    # m4au (soun track) + aacf (ADTS) + oggp (Ogg Opus TOC) + webl
    # (laced Matroska audio) + mp3f (MPEG header walk) — the operator
    # dispatches per payload by magic, legs re-labelled from the code
    aud_media = folded_media([
        (did % 3 == 0, 0, _pick2(m4a)),
        (did % 3 == 0, 1, _pick2(aac)),
        (did % 3 == 1, 2, _pick2(ogg)),
        (did % 3 == 1, 3, _pick2(wbl)),
        (did % 3 == 2, 4, _pick2(mp3)),
    ])
    aud_leg = decoded_leg(
        sample_frames(aud_media, media="audio"),
        folded_label({0: F.lit("m4au"), 1: F.lit("aacf"), 2: F.lit("oggp"),
                      3: F.lit("webl"), 4: F.lit("mp3f")}),
        id_expr=folded_doc_id(),
    )
    # keyframes_only differs in call args, so it keeps its own stage
    avck_media = docs.where(did % 3 == 2).select(
        did.alias("media_id"), _pick2(av).alias("payload"),
    )
    avck_leg = decoded_leg(
        sample_frames(avck_media, keyframes_only=True), F.lit("avck"),
    )

    def audio_leg(media_df, leg_col, id_expr=None):
        id_expr = F.col("media_id") if id_expr is None else id_expr
        return sample_audio_windows(media_df, window_ms=4).select(
            leg_col.alias("leg"),
            id_expr.alias("doc_id"),
            F.col("start_ms").alias("frame_ms"),
            F.col("window_index").alias("frame_index"),
            F.col("duration_ms").alias("delay_ms"),
            F.lit(None).cast("int").alias("fwidth"),
            F.lit(None).cast("int").alias("fheight"),
            F.round("mean", 6).alias("fmean"),
            F.round("std", 6).alias("fstd"),
            F.round("min", 6).alias("fmin"),
            F.round("max", 6).alias("fmax"),
            F.col("n_samples").cast("bigint").alias("fn_bytes"),
            F.lit(None).cast("boolean").alias("fkeyframe"),
        )

    # Like the gif branch: wav/rsw/g711 payloads are DISTINCT per document
    # (md5-built), so the decode memo never fires and the one-task legs
    # serialize their per-row decode on one core (measured 0.8-1.3 s each
    # while every fixture leg is ≤0.7 s). The split parallelizes both the
    # expression synthesis and the Python decode; fixture legs (adpcm,
    # flac) keep the unsplit scan and their fully-effective memo.
    docs_split = _docs(spark, sf)
    wav = synthesize_wav_media_from_text(
        docs_split.where(F.col("doc_id") % 2 == 0),
    )
    wav_leg = audio_leg(wav, F.lit("wav"))

    # round 13: transcode_audio in the loop — resample the same fixture
    # 1 kHz → 500 Hz (an integral ratio with aligned phase, so the
    # linear interpolation picks EXACT source samples: the even md5
    # bytes) and window the result; the twin re-derives everything from
    # bytes at indexes 4w and 4w+2
    from sed_binning_spark.pipeline.multimodal import transcode_audio

    rsw_leg = audio_leg(transcode_audio(wav, target_rate=500), F.lit("rsw"))

    # round 13: the SAME md5 bytes behind ITU-T G.711 format tags — the
    # byte IS the companded code, expanded through the exact-integer
    # tables inside decode_audio_wav, so the windowed stats stay exact
    # dyadic-rational closed forms the oracle re-derives per byte
    g711 = synthesize_wav_media_from_text(
        docs_split.where(did % 4 == 1), codec="ulaw",
    ).unionByName(synthesize_wav_media_from_text(
        docs_split.where(did % 4 == 3), codec="alaw",
    ))
    g711_leg = audio_leg(
        g711,
        F.when(F.col("media_id") % 4 == 1, F.lit("ulw")).otherwise(F.lit("alw")),
    )

    # IMA-/MS-ADPCM (real block decoders, frozen-literal oracle truth,
    # _ima_fixture) and FLAC (real RFC 9639 decoder: fixed + LPC
    # predictors, Rice partitions, mid/side, CRC/md5) share ONE
    # sample_audio_windows stage — same fold as vid/aud above (the
    # operator dispatches RIFF vs fLaC by magic per payload)
    adpcm_blobs, _ = _ima_fixture()
    flac_blobs = _flac_fixture()
    fixwin_media = folded_media([
        (did % 2 == 0, 0,
         F.when(did % 8 == 2, F.lit(bytearray(adpcm_blobs[0])))
         .when(did % 8 == 6, F.lit(bytearray(adpcm_blobs[1])))
         .when(did % 8 == 0, F.lit(bytearray(adpcm_blobs[2])))
         .otherwise(F.lit(bytearray(adpcm_blobs[3])))),
        (did % 3 == 2, 1, _pick2(flac_blobs)),
    ])
    fixwin_leg = audio_leg(
        fixwin_media,
        F.when(F.col("media_id") % 8 == 1, F.lit("flc"))
        .when(folded_doc_id() % 4 == 2, F.lit("ima"))
        .otherwise(F.lit("msa")),
        id_expr=folded_doc_id(),
    )
    return (
        plan_leg.unionByName(gif_leg).unionByName(vid_leg)
        .unionByName(gifk_leg).unionByName(avck_leg)
        .unionByName(aud_leg)
        .unionByName(wav_leg).unionByName(rsw_leg)
        .unionByName(g711_leg).unionByName(fixwin_leg)
    )


def _q_doc_hashes(spark, sf):
    """Document hashing merged: winnowing fingerprint + 16-bit SimHash
    sketch from the same scan (both pure-expression operators), PLUS the
    HTML→text extraction checked as the md5 of strip_html over an
    HTML-wrapped twin (doctype + block/inline tags + entity + script) —
    both engines run the identical pattern chain.

    Round 11 adds the C4 line-rule tier (pipeline.text.c4_line_filter)
    over a synthesized multi-line twin: the corpus text (one line) plus
    fixed lines hitting every rule — too few words, no terminal
    punctuation, a boilerplate phrase, a corpus-derived md5-digest line —
    and per-doc conditional lines exercising min_lines, the curly-brace
    doc rule (% 7) and the lorem-ipsum doc rule (% 11). The cleaned
    text's md5 and the keep verdict are checked against a DuckDB replica
    of the same line predicates over the identical construction."""
    from sed_binning_spark.pipeline.text import c4_line_filter, strip_html

    # one frame, one scan: strip_html is map-only and column-addressed,
    # so the HTML twin is just another column — no self-join
    docs = _docs(spark, sf).withColumns({
        "htext": F.concat(
            F.lit("<!DOCTYPE html><p>"), F.col("text"),
            F.lit("</p><br>x &amp; y<script>s()</script>"),
        ),
        "c4t": F.concat(
            F.col("text"), F.lit(_C4_FIXED),
            F.substring(F.md5("text"), 1, 8), F.lit(_C4_TAIL),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_C4_EVEN)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_C4_BRACE)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(_C4_LOREM)).otherwise(F.lit("")),
        ),
    })
    docs = strip_html(docs, text_column="htext", output_column="text_clean")
    docs = c4_line_filter(docs, text_column="c4t", output_column="c4_clean")
    out = simhash(document_fingerprint(docs), bits=16)
    return out.select(
        "doc_id", "fingerprint", "simhash",
        F.md5("text_clean").alias("clean_md5"),
        F.md5("c4_clean").alias("c4_md5"),
        F.col("keep").alias("c4_keep"),
    )


def _q_seq_pack(spark, sf):
    """Sequence packing, manifest + assembly merged: pack_chunks lays
    documents onto 8 shard streams at a 64-token budget, pack_sequences
    rebuilds the actual sequences, and every manifest row carries the md5
    of its assembled sequence — the DuckDB twin reproduces layout AND
    token stream bit-for-bit.

    Round 12 adds the ``order="shuffled"`` leg: the same corpus packed
    in the seeded md5 order (hash_uniform domain 'pack-order', ties on
    id) — the in-shard sort key flip that gives training its globally
    randomized document order at zero extra shuffle cost. The twin
    re-derives the SAME order key from md5 arithmetic and replays the
    whole layout + sequence assembly under it, so a drift in the order
    domain, the tie-break, or the window framing breaks the hash."""
    from sed_binning_spark.pipeline.pack import pack_chunks, pack_sequences, pack_stats

    # split=False: packing is shuffle-bound (shard/seq windows + two
    # joins), not per-doc-expression-bound — the pre-split Exchange was
    # pure overhead (A/B 1.9 -> 1.6 s at sf0.1)
    docs = _docs(spark, sf, split=False)

    def leg(order):
        man = pack_chunks(docs, seq_tokens=64, n_shards=8, order=order)
        seqs = pack_sequences(man, docs).select(
            "shard", "seq_id",
            F.md5(F.concat_ws(" ", "tokens")).alias("seq_md5"),
        )
        # fill accounting rides along (fill_ratio is n/64 — exact binary)
        stats = pack_stats(man, 64).select(
            "shard", "seq_id", "filled_tokens", "fill_ratio",
        )
        return (
            man.join(seqs, on=["shard", "seq_id"], how="left")
            .join(stats, on=["shard", "seq_id"], how="left")
            .select(F.lit(order).alias("leg"), "*")
        )

    return leg("id").unionByName(leg("shuffled"))


def _q_decontam(spark, sf):
    """Benchmark decontamination (pipeline.decontam.contamination_stats):
    every 10th document plays the evaluation suite; the rest are the
    training corpus, scanned for shared distinct 5-grams."""
    from sed_binning_spark.pipeline.decontam import contamination_stats

    docs = _docs(spark, sf)
    train = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    return contamination_stats(train, bench, n=5, min_matches=2)


def _q_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(
        _docs(spark, sf), num_hashes=8, bands=4, shingle_size=3,
    )


def _q_pulse_projection(spark, sf):
    """P6: pulse-frame projection — keep per-pulse/train channels at
    electronId 0, NULL, or NaN (sed/loader/flash/loader.py:825-830)."""
    ev = _events(spark, sf).select(
        "event_id",
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("dldPosX"),
        # all three keep-branches represented: NaN, NULL, and literal 0
        F.when(F.col("event_id") % 13 == 0, F.lit(float("nan")))
        .when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("event_id") % 3).cast("double")).alias("electronId"),
        F.col("ADC").alias("pulseADC"),
    )
    _, pulse = split_electron_pulse_frames(ev, ["dldPosX"])
    return pulse


def _q_storage_roundtrip(spark, sf):
    """S9+S8+J7+S2+S11 merged: combined-parquet save + load round-trip,
    the write-once buffer cache with schema validation, the multi-path
    file concat with natural-sort attribution, and the dataset fetcher —
    the returned frame is what a later session would read back from BOTH
    copies of the buffer.

    - S9 (save/load): the first ``buffer_parquet`` call force-builds the
      dataset via ``save_parquet``'s writer path (reference
      sed/core/dfops.py save semantics).
    - S8 (buffer cache, reference sed/loader/flash/loader.py:643-742):
      the second call's builder RAISES if invoked — returning data at all
      proves the cache hit — and ``expected_columns`` routes the read
      through ``validate_buffer_schema`` (success path). The mismatch
      path (stale buffer from an older channel config) is exercised
      in-query: the emitted ``buffer_ok`` column is only True when a
      wrong-schema validation raised ValueError with the reference's
      force_recreate guidance.
    - J7 (file concat, reference sed/loader/*/loader.py multi-file read)
      + S2 (file discovery with NATURAL sort, reference
      sed/loader/utils.py:17-55): the round-tripped frame is split
      even/odd by event_id into ``part2.parquet`` / ``part10.parquet``
      (Arrow-written — Arrow preserves the NULL-vs-NaN distinction the
      dirty-fixture suite checks, where pandas would conflate them) and
      read back through ``GenericLoader(folders=...)`` in one scan.
      Natural sort orders part2 BEFORE part10, so even rows get
      ``file_id`` 0 and odd rows 1; a lexical sort ("part10" < "part2")
      would swap the attribution and fail the oracle's
      ``event_id % 2 = src_file`` hash.

    The target path is keyed on (sf dir, pid): two processes (driver gate
    + selfcheck) or two sf dirs in one session never overwrite each other
    while a lazy reader is still open on the path. Size is bounded: each
    (pid, sf) pair reuses its one overwrite-mode dataset."""
    import hashlib
    import shutil

    from sed_binning_spark.loaders.flash import buffer_parquet, validate_buffer_schema
    from sed_binning_spark.loaders.generic import GenericLoader

    ev = _events(spark, sf).select("event_id", "user_id", "value")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(),
        f"sed_binning_spark_s9_{tag}_{os.getpid()}.parquet",
    )
    buffer_parquet(lambda: ev, path, spark, force_recreate=True)

    def _must_not_build():
        raise AssertionError("buffer cache miss on an existing buffer")

    cached = buffer_parquet(
        _must_not_build, path, spark,
        expected_columns=["event_id", "user_id", "value"],
    )
    ok = False
    try:
        validate_buffer_schema(cached, ["event_id", "user_id", "dldPosX"])
    except ValueError as exc:
        ok = "force_recreate" in str(exc) and "dldPosX" in str(exc)

    # S11 (dataset fetcher, reference sed/dataset/dataset.py:28-416):
    # file:// download + sha256 verification, cache hit proven by
    # DELETING the source before the second get (only the recorded cache
    # can serve it), and the corrupt-checksum raise — all local, no
    # network at the gate (the HTTP(S) path shares this code and is
    # covered by network-mocked pytest).
    from sed_binning_spark.loaders.storage import DatasetFetcher

    payload = f"sed-binning dataset fixture {tag}".encode()
    src = path[:-8] + "_dlsrc.bin"
    with open(src, "wb") as fh:
        fh.write(payload)
    sha = hashlib.sha256(payload).hexdigest()
    dl_dir = path[:-8] + "_ds"
    shutil.rmtree(dl_dir, ignore_errors=True)
    fetcher = DatasetFetcher(dl_dir, {
        "good": {"url": "file://" + src, "sha256": sha},
        "corrupt": {"url": "file://" + src, "sha256": "0" * 64},
    })
    p1 = fetcher.get("good")
    with open(os.path.join(p1, os.path.basename(src)), "rb") as fh:
        dl_ok = fh.read() == payload
    try:
        fetcher.get("corrupt")
        dl_ok = False
    except ValueError as exc:
        dl_ok = dl_ok and "checksum mismatch" in str(exc)
    os.remove(src)  # second get must be served by the cache alone
    dl_ok = dl_ok and fetcher.get("good") == p1

    # The four remaining legs are independent of each other — each writes
    # its own directory and reads it back through several small Spark
    # jobs (offset collects, csv schema inference, toArrow). Build them
    # on driver threads (guide §2.6: actions are only sequential because
    # the driver calls them sequentially), so one leg's jobs back-fill
    # the cluster while another's single-task text write runs. Assembly
    # below happens in a FIXED order from the futures, so the returned
    # plan is identical to the serial construction.

    def _parts_leg():
        # J7+S2: even/odd split into part2/part10, natural-sort read-back
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = cached.toArrow()  # bounded: the gate-scale event table
        even = pc.fill_null(
            pc.equal(pc.bit_wise_and(tbl.column("event_id"), 1), 0), True,
        )
        d2 = path[:-8] + "_parts"
        shutil.rmtree(d2, ignore_errors=True)
        os.makedirs(d2)
        pq.write_table(tbl.filter(even), os.path.join(d2, "part2.parquet"))
        pq.write_table(
            tbl.filter(pc.invert(even)), os.path.join(d2, "part10.parquet"),
        )
        return GenericLoader(spark).read_dataframe(folders=d2)

    # S1 (generic csv/json scans, reference sed/loader/generic/loader.py:
    # 30-100): the same frame's id columns written as csv and json and
    # read back through the SAME GenericLoader dispatch — every row must
    # come back value-identical under both text formats (ids only: the
    # dirty-events suite poisons `value` with NaN/±inf, whose text
    # round-trip is writer-dialect trivia, not the scan contract)
    ids_frame = cached.select("event_id", "user_id")

    def _text_leg(fmt, writer_opts):
        fdir = path[:-8] + f"_{fmt}"
        shutil.rmtree(fdir, ignore_errors=True)
        (ids_frame.coalesce(1).write.mode("overwrite")
         .options(**writer_opts).format(fmt).save(fdir))
        read_opts = {"header": True, "inferSchema": True} if fmt == "csv" else {}
        leg, _, _ = GenericLoader(spark).read_dataframe(
            folders=fdir, ftype=fmt, **read_opts,
        )
        return leg.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.lit(None).cast("double").alias("value"),
            F.col("file_id").cast("int").alias("src_file"),
            F.lit(bool(ok)).alias("buffer_ok"),
            F.lit(bool(dl_ok)).alias("download_ok"),
            F.lit(fmt).alias("src_fmt"),
        )

    # WARC leg (round 11, pipeline.warc): every 101st event becomes one
    # HTTP-response record in one of THREE gzip WARC files (event_id % 3
    # picks the file — read_warc's one-task-per-file fan-out and the
    # path attribution are both checked), cycling the four framing
    # variants (plain / chunked / gzip / chunked+gzip with an invalid
    # UTF-8 byte inside a comment). Each file also carries a request
    # record, a 404 and an image/png response that warc_to_documents
    # must FILTER; the survivors' ids parse back out of the stripped
    # text, so framing, dechunk, content-decode, make_valid_utf8 and
    # strip_html are all on the hash path.
    from sed_binning_spark.pipeline.warc import (
        http_response,
        read_warc,
        warc_to_documents,
        write_warc,
    )

    def _warc_leg():
        sel = (
            cached.where(F.col("event_id") % 101 == 0)
            .select("event_id", "user_id").orderBy("event_id").collect()
        )
        wdir = path[:-8] + "_warc"
        shutil.rmtree(wdir, ignore_errors=True)
        os.makedirs(wdir)
        wpaths = [os.path.join(wdir, f"warc{i}.warc.gz") for i in range(3)]
        recs: dict[int, list] = {0: [], 1: [], 2: []}
        for r in sel:
            e, u = int(r["event_id"]), int(r["user_id"])
            body = (
                f"<html><body><p>ev {e} u {u} v {e % 997} é</p></body></html>"
            ).encode()
            if e % 4 == 3:
                body += b"<!-- \xff -->"  # invalid UTF-8, must degrade to U+FFFD
            payload = http_response(
                body, chunked=e % 4 in (1, 3), gzip_body=e % 4 in (2, 3),
            )
            recs[e % 3].append({
                "type": "response",
                "url": f"http://ev{e}.example/x",
                "payload": payload,
            })
        for i in range(3):
            recs[i].append({
                "type": "request", "url": "http://noise.example/req",
                "content_type": "application/http; msgtype=request",
                "payload": b"GET / HTTP/1.1\r\nHost: noise.example\r\n\r\n",
            })
            recs[i].append({
                "type": "response", "url": f"http://noise{i}.example/gone",
                "payload": http_response(b"<p>gone</p>", status=404),
            })
            recs[i].append({
                "type": "response", "url": f"http://noise{i}.example/img",
                "payload": http_response(
                    b"\x89PNG\r\n\x1a\n", content_type="image/png",
                ),
            })
            write_warc(wpaths[i], recs[i], compress=True)
        crawl = read_warc(spark, wpaths).withColumn(
            "wfile",
            F.regexp_extract("path", r"warc(\d+)\.warc\.gz$", 1).cast("int"),
        )
        fmap = crawl.where(F.col("warc_type") == "response").select("url", "wfile")
        return warc_to_documents(crawl).join(fmap, "url").select(
            F.regexp_extract("url", r"ev(\d+)\.example", 1)
            .cast("long").alias("event_id"),
            F.regexp_extract("text", r"ev \d+ u (\d+) v \d+", 1)
            .cast("long").alias("user_id"),
            F.regexp_extract("text", r"ev \d+ u \d+ v (\d+)", 1)
            .cast("double").alias("value"),
            F.col("wfile").alias("src_file"),
            F.lit(bool(ok)).alias("buffer_ok"),
            F.lit(bool(dl_ok)).alias("download_ok"),
            F.lit("warc").alias("src_fmt"),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_parts = pool.submit(_parts_leg)
        f_csv = pool.submit(_text_leg, "csv", {"header": True})
        f_json = pool.submit(_text_leg, "json", {})
        f_warc = pool.submit(_warc_leg)
        df, _, meta = f_parts.result()
        legs = [f_csv.result(), f_json.result()]
        wleg = f_warc.result()
    assert meta["file_statistics"]["num_files"] == 2

    out = df.select(
        "event_id", "user_id", "value",
        F.col("file_id").alias("src_file"),
        F.lit(bool(ok)).alias("buffer_ok"),
        F.lit(bool(dl_ok)).alias("download_ok"),
        F.lit("parquet").alias("src_fmt"),
    )
    for leg in legs:
        out = out.unionByName(leg)
    return out.unionByName(wleg)


def _q_jaccard_pairs(spark, sf):
    """LSH candidates + true n-gram Jaccard verify (the full dedup cascade:
    shingle → minhash → band → bucket join → exact verify)."""
    from sed_binning_spark.pipeline.dedup import ngram_jaccard

    docs = _docs(spark, sf)
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4, shingle_size=3)
    out = ngram_jaccard(pairs, docs, shingle_size=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_rolling_hashes(spark, sf):
    """Winnowing-style rolling fingerprints, csv-serialized for the
    canonicalizer — PLUS the exact-substring dedup built on the same
    window machinery (pipeline.dedup.dedup_substrings, the ExactSubstr
    pass of Lee et al. 2022): ``text_subdedup`` is the document rebuilt
    without tokens covered by any non-first duplicated 5-token window,
    ``n_sub_removed`` the removed-token count. The oracle replays the
    whole cascade — strict windows, global min-(id, start) winners,
    covered-token removal — in SQL.

    Both hash paths sit on the gate: ``rh_csv`` is the md5-per-window
    form; ``rh_roll_csv`` is the Rabin-Karp rolling form
    (pipeline.text.rk_window_hashes — one md5 per token, doubling zips,
    whole-doc partial window for short docs), whose 62-bit values the
    oracle recomputes with an independent per-window left fold
    (sqlgen.rk_window_hashes_sql). The dedup runs hash_function="rolling"
    while the oracle groups windows by their md5 — a deliberate cross
    check: the rebuilt text only hash-matches if Rabin-Karp window
    equality agrees with md5 window equality occurrence-for-occurrence.
    ``n_submd5_removed`` keeps the md5 winner path ITSELF on the gate too
    (a second dedup run under the default hash — without it, a
    regression confined to the md5 window expression would only be
    caught by pytest, not by the exactness-gate oracle)."""
    from sed_binning_spark.pipeline.dedup import dedup_substrings
    from sed_binning_spark.pipeline.text import rolling_hashes

    docs = _docs(spark, sf)
    md5_removed = dedup_substrings(docs, window=5).select(
        "doc_id", F.col("n_removed_tokens").alias("n_submd5_removed"),
    )
    out = rolling_hashes(docs, window=5)
    out = rolling_hashes(
        out, window=5, out_column="rh_roll", hash_function="rolling",
    )
    out = dedup_substrings(out, window=5, hash_function="rolling")
    out = out.join(md5_removed, on="doc_id", how="left")
    # preserve NULL for token-less documents: concat_ws over a NULL array
    # would silently render '' where the oracle (and the operator) say NULL
    return out.select(
        "doc_id",
        F.when(
            F.col("rolling_hashes").isNotNull(),
            F.concat_ws(",", "rolling_hashes"),
        ).alias("rh_csv"),
        F.when(
            F.col("rh_roll").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.col("rh_roll"), lambda x: x.cast("string")),
            ),
        ).alias("rh_roll_csv"),
        F.col("text_dedup").alias("text_subdedup"),
        F.col("n_removed_tokens").alias("n_sub_removed"),
        # NULL-id rows can't join their md5 run back (they pass through
        # every dedup untouched — 0 removed by contract on both engines)
        F.coalesce(F.col("n_submd5_removed"), F.lit(0)).alias("n_submd5_removed"),
    )


def _q_ann_topk(spark, sf):
    """BOTH ANN paths against one oracle: brute-force cosine top-k, and
    IVF with every list probed — full probe makes IVF exact (the probe
    filter keeps all assignable rows and the in-list scorer IS
    cosine_topk's fold), so its scores are bit-identical to brute and the
    whole train→assign→probe machinery gets hash-level verification.

    Round 11 adds the compression tier as further path legs:

    - ``pq_adc``: pq_encode + pq_topk under the LITERAL _PQ_MODEL
      codebook — per-subspace argmin and the asymmetric-distance top-10
      both have closed forms the oracle recomputes from the constants
      (scores rounded to 1e-6; the ranking gaps dwarf float noise).
    - ``pca_c0``/``pca_c1``: pca_apply under the LITERAL _PCA_MODEL —
      the stored ``array<float>`` projection is float32-EXACT, so the
      oracle casts its own f64 projection through FLOAT and the values
      compare bit-identically (the f32 grid absorbs summation-order
      noise).
    - ``pca_fit_mean``/``pca_fit_var``/``pca_fit_n``: pca_fit runs at
      query time (the distributed moment pass); the model's mean vector,
      total variance (= eigenvalue sum = covariance trace) and row count
      are emitted as rows the oracle recomputes from plain AVG/COUNT
      moments — oracle coverage for BOTH moment aggregates without
      shipping any eigensolver into SQL."""
    emb = _embeds(spark, sf)
    brute = cosine_topk(emb, _QVEC, k=10).select(
        F.lit("brute").alias("path"), "vec_id", "score",
    )
    cents = ivf_train_centroids(emb, n_lists=8, seed=42)
    ivf = ivf_topk(emb, cents, _QVEC, k=10, n_probes=8).select(
        F.lit("ivf_full_probe").alias("path"), "vec_id", "score",
    )
    pq = pq_topk(
        pq_encode(emb, _PQ_MODEL), _PQ_MODEL,
        [float(v) for v in _QVEC], k=10,
    ).select(
        F.lit("pq_adc").alias("path"), "vec_id",
        F.round("pq_dist", 6).alias("score"),
    )
    proj = pca_apply(emb, _PCA_MODEL).where(
        F.col("embedding_pca").isNotNull(),
    )
    # ONE leg via posexplode instead of one select per component: a union
    # of per-component legs duplicates the projector-UDF subtree (union
    # branches share nothing), so the matmul UDF ran once per component
    # and the scan twice. pca_apply emits exactly k=2 components per
    # non-null row, so posexplode yields the identical row set
    # (path=pca_c<pos>, score=component cast double).
    pca_legs = [
        proj.select(
            "vec_id", F.posexplode("embedding_pca").alias("pos", "comp"),
        ).select(
            F.concat(F.lit("pca_c"), F.col("pos").cast("string")).alias("path"),
            "vec_id",
            F.col("comp").cast("double").alias("score"),
        )
    ]
    model = pca_fit(emb, k=4)
    # ratio[0] == 0 means a zero-variance corpus (pca_fit clamped every
    # eigenvalue and fell back to total=1): the trace is genuinely 0
    ratio0 = float(model["explained_variance_ratio"][0])
    total_var = (
        float(model["explained_variance"][0]) / ratio0 if ratio0 > 0 else 0.0
    )
    fit_rows = (
        [("pca_fit_mean", i, float(m)) for i, m in enumerate(model["mean"])]
        + [("pca_fit_var", -1, total_var),
           ("pca_fit_n", -2, float(model["n_fit"]))]
    )
    fit_df = spark.createDataFrame(
        fit_rows, "path string, vec_id long, score double",
    ).select("path", "vec_id", F.round("score", 6).alias("score"))
    out = brute.unionByName(ivf).unionByName(pq)
    for leg in pca_legs:
        out = out.unionByName(leg)
    return out.unionByName(fit_df)


def _q_ann_pairs(spark, sf):
    return cosine_pairs_brute(_embeds(spark, sf), 0.45).select("id_a", "id_b")


def _q_embedding_dedup_rows(spark, sf):
    """Embedding-cosine near-dedup, exact path: vectors above 0.45 cosine
    collapse to the smallest vec_id per connected component; survivors
    returned. Exercises cosine_pairs_brute -> connected_components ->
    near_dedup_keep_rows in one chain (the LSH candidate path of the same
    composition is approximate by design and covered by ann_pairs_lsh)."""
    emb = _embeds(spark, sf)
    return embedding_dedup(emb, 0.45, exact=True).select("vec_id")


def _q_ann_lsh(spark, sf):
    """Banding tuned for the 0.45 threshold: P(plane agrees) ~ 0.65, so 4
    planes x 12 tables gives 1-(1-0.65^4)^12 ~ 0.91 theoretical recall
    (measured 1.0 vs brute force at sf0.01 — tests/test_pipeline.py).

    Oracle-backed despite being "approximate": given the seeded hyperplane
    set the verified pair set is fully deterministic, so the DuckDB twin
    (:func:`_lsh_pairs_oracle_sql`) regenerates the same planes and
    replicates bucket -> candidate -> exact-cosine verify. The skew guard
    is lifted here (its star-pair degradation is load-dependent and pinned
    separately by tests/test_dedup.py) so the twin's full within-bucket
    expansion is exact at every SF."""
    return lsh_bucket_pairs(
        _embeds(spark, sf), 0.45, num_planes=4, num_tables=12,
        max_bucket_size=1_000_000,
    ).select("id_a", "id_b")


_JPEG12_FIXTURES = None


def _jpeg12_fixture():
    """Plan-time 12-bit extended-sequential JPEG fixtures for the
    multimodal_features slot (round 13, the frozen-model pattern): two
    flat 16×16 grayscale frames at v12 ∈ (273, 2457). Both values make
    v12·255/4095 integral (17 and 153) and flat DC-only blocks quantize
    exactly, so decode through the pure-Python codec is bit-exact and
    every feature element is closed-form: [1, 16, 16, 1, m, 0, m, m]
    with m = v8/255, quantized through float32 exactly as the engine's
    ArrayType(FloatType) Arrow cast. Returns (blobs, feat_csv_literals,
    byte_sizes)."""
    global _JPEG12_FIXTURES
    if _JPEG12_FIXTURES is None:
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg

        blobs, feats = [], []
        for v12 in (273, 2457):
            blobs.append(encode_image_jpeg(
                np.full((16, 16), v12, np.uint16), precision=12,
            ))
            m = (v12 * 255 // 4095) / 255.0
            vec = [1.0, 16.0, 16.0, 1.0, m, 0.0, m, m]
            feats.append(",".join(
                str(int(round(float(np.float32(x)) * 1e6))) for x in vec
            ))
        _JPEG12_FIXTURES = (blobs, feats, [len(b) for b in blobs])
    return _JPEG12_FIXTURES


_WEBP_FIXTURES = None


def _webp_fixture():
    """Plan-time WebP fixtures for the multimodal_features slot
    (round 14): one blob per container variant — VP8 lossy 48×30,
    VP8L lossless 33×17, VP8X extended 1024×768. The engine must
    parse the real headers for the dimensions (the independent
    claim); the byte-stat slots are frozen once at plan time with the
    engine's own float arithmetic, the _jpeg12 pattern. Returns
    (blobs, feat_csv_literals, byte_sizes)."""
    global _WEBP_FIXTURES
    if _WEBP_FIXTURES is None:
        from sed_binning_spark.pipeline.multimodal import (
            _norm_stats, encode_webp_header,
        )

        blobs, feats = [], []
        for variant, w, h in (("vp8", 48, 30), ("vp8l", 33, 17),
                              ("vp8x", 1024, 768)):
            blob = encode_webp_header(w, h, variant=variant)
            blobs.append(blob)
            stats = _norm_stats(np.frombuffer(blob, np.uint8), 255.0)
            vec = [3.0, float(w), float(h), 0.0, *stats]
            feats.append(",".join(
                str(int(round(float(np.float32(x)) * 1e6))) for x in vec
            ))
        _WEBP_FIXTURES = (blobs, feats, [len(b) for b in blobs])
    return _WEBP_FIXTURES


_TAGS_FIXTURES = None
# doc_id % 80 keys of the tag-fixture variants (all ≡ 2 mod 5 so the
# key is reachable from the doc_id % 5 == 2 subset; 500 driver docs
# cover every class)
_TAG_VARIANT_KEYS = [2, 7, 12, 17, 22, 27, 32, 37, 42, 47, 52, 57, 62,
                     67]


def _tags_fixture():
    """Plan-time tag-bearing media fixtures for the multimodal_features
    slot (round 14): eight payloads, one per tag grammar/variant —
    ID3v2.3 (latin-1 + UTF-16 + TXXX/COMM/USLT), ID3v2.4 (UTF-8),
    trailing ID3v1.1, FLAC VORBIS_COMMENT, MP4 ilst, RIFF LIST-INFO,
    Ogg Opus OpusTags, and ID3v2.3 with global unsynchronisation
    (0xFF-laden text). The oracle's expected ``(container, key,
    value)`` rows are declared here from the ENCODER INPUTS — the
    engine must really walk the tag structures to reproduce them; the
    builder and parser are independent inverse implementations.
    Returns (blobs, expected) with ``expected[i]`` the tag rows of
    ``blobs[i]``."""
    global _TAGS_FIXTURES
    if _TAGS_FIXTURES is None:
        from sed_binning_spark.pipeline.flac import encode_flac
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.multimodal import encode_audio_wav
        from sed_binning_spark.pipeline.ogg import encode_ogg_opus
        from sed_binning_spark.pipeline.tags import (
            add_flac_vorbis_comments,
            add_riff_info,
            encode_id3v1,
            encode_id3v2,
            encode_mp4_tags_fixture,
            encode_vorbis_comment_block,
        )

        mp3_audio = encode_mp3_frames(2)
        blobs, expected = [], []

        # v0 — ID3v2.3: latin-1, UTF-16 (non-latin-1 artist), TXXX,
        # COMM, USLT, and a mapped genre frame
        blobs.append(encode_id3v2([
            ("TIT2", "Spark Title"), ("TPE1", "Ärtïst Ünïon"),
            ("TXXX:mood", "calm"), ("COMM:note", "a tiny comment"),
            ("USLT:l", "la la lyrics"), ("TCON", "Electronic"),
            ("APIC", "image/png"),
        ], version=3) + mp3_audio)
        expected.append([
            ("mp3", "title", "Spark Title"),
            ("mp3", "artist", "Ärtïst Ünïon"),
            ("mp3", "mood", "calm"),
            ("mp3", "comment", "a tiny comment"),
            ("mp3", "lyrics", "la la lyrics"),
            ("mp3", "genre", "Electronic"),
            ("mp3", "artwork", "image/png"),
        ])

        # v1 — ID3v2.4: UTF-8 text, syncsafe frame sizes, TDRC date
        blobs.append(encode_id3v2([
            ("TIT2", "Tïtle Twénty-Fôur"), ("TDRC", "2024-05-01"),
            ("TXXX:source", "crawl"),
        ], version=4) + mp3_audio)
        expected.append([
            ("mp3", "title", "Tïtle Twénty-Fôur"),
            ("mp3", "date", "2024-05-01"),
            ("mp3", "source", "crawl"),
        ])

        # v2 — bare MPEG audio + trailing ID3v1.1 block
        blobs.append(mp3_audio + encode_id3v1(
            "Legacy Title", "Legacy Artist", "Legacy Album", "1999",
            "v1 comment", track=7,
        ))
        expected.append([
            ("mp3", "title", "Legacy Title"),
            ("mp3", "artist", "Legacy Artist"),
            ("mp3", "album", "Legacy Album"),
            ("mp3", "date", "1999"),
            ("mp3", "comment", "v1 comment"),
            ("mp3", "track", "7"),
        ])

        # v3 — FLAC VORBIS_COMMENT metadata block (RFC 9639 §8.6)
        from sed_binning_spark.pipeline.tags import (
            add_flac_picture,
            encode_flac_picture_block,
        )

        flac = encode_flac(
            np.arange(0, 4096, dtype=np.int16).reshape(-1, 1), 8000,
        )
        blobs.append(add_flac_picture(
            add_flac_vorbis_comments(flac, [
                ("title", "Flac Träck"), ("artist", "Nobody Ensemble"),
                ("album", "Lossless Hours"),
            ]),
            encode_flac_picture_block(
                mime="image/png", width=8, height=6,
            ),
        ))
        expected.append([
            ("flac", "title", "Flac Träck"),
            ("flac", "artist", "Nobody Ensemble"),
            ("flac", "album", "Lossless Hours"),
            ("flac", "artwork", "image/png 8x6"),
        ])

        # v4 — MP4 ilst (©nam family + caption-grade ©cmt/©lyr)
        blobs.append(encode_mp4_tags_fixture([
            (b"\xa9nam", "Vid Title"), (b"\xa9ART", "Vid Artist"),
            (b"\xa9cmt", "caption here"), (b"\xa9lyr", "all the words"),
        ], artwork=b"\xff\xd8fake", artwork_type=13))
        expected.append([
            ("mp4", "title", "Vid Title"),
            ("mp4", "artist", "Vid Artist"),
            ("mp4", "comment", "caption here"),
            ("mp4", "lyrics", "all the words"),
            ("mp4", "artwork", "image/jpeg"),
        ])

        # v5 — RIFF LIST-INFO on a WAV file
        wav = encode_audio_wav(np.zeros((64, 1), np.int16), 8000)
        blobs.append(add_riff_info(wav, [
            (b"INAM", "Wav Name"), (b"IART", "Wav Artist"),
            (b"ICMT", "wav comment"), (b"ICRD", "2024-01-02"),
        ]))
        expected.append([
            ("wav", "title", "Wav Name"),
            ("wav", "artist", "Wav Artist"),
            ("wav", "comment", "wav comment"),
            ("wav", "date", "2024-01-02"),
        ])

        # v6 — Ogg Opus OpusTags packet (RFC 7845 §5.2) with the Xiph
        # base64 METADATA_BLOCK_PICTURE artwork convention
        import base64 as _b64

        blobs.append(encode_ogg_opus(
            [b"\x00" * 10] * 3,
            comment_payload=encode_vorbis_comment_block([
                ("title", "Opus Träck"), ("comment", "caption text"),
                ("metadata_block_picture", _b64.b64encode(
                    encode_flac_picture_block(
                        mime="image/jpeg", width=32, height=24,
                    ),
                ).decode("ascii")),
            ]),
        ))
        expected.append([
            ("ogg", "title", "Opus Träck"),
            ("ogg", "comment", "caption text"),
            ("ogg", "artwork", "image/jpeg 32x24"),
        ])

        # v7 — ID3v2.3 global unsynchronisation: latin-1 0xFF bytes
        # force real FF 00 escapes the parser must reverse
        blobs.append(encode_id3v2([
            ("TIT2", "ÿÿ title ÿ"), ("TALB", "ÿ album"),
        ], version=3, unsync=True) + mp3_audio)
        expected.append([
            ("mp3", "title", "ÿÿ title ÿ"),
            ("mp3", "album", "ÿ album"),
        ])

        # image grammars (round 14, same leg): Exif IFD walks, PNG
        # text chunks, GIF comment extensions
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg
        from sed_binning_spark.pipeline.multimodal import (
            encode_image_gif,
            encode_image_png,
            encode_webp_header,
        )
        from sed_binning_spark.pipeline.tags import (
            add_gif_comment,
            add_jpeg_metadata,
            add_png_text,
            add_webp_exif,
            encode_tiff_exif,
            user_comment,
        )

        jpeg_base = encode_image_jpeg(np.full((16, 16), 128, np.uint8))

        # v8 — JPEG APP1-Exif (little-endian IFD0) + COM comment +
        # GPS sub-IFD (DMS rationals → the geo-PII a pipeline scrubs)
        blobs.append(add_jpeg_metadata(
            jpeg_base,
            exif=encode_tiff_exif([
                (0x010F, "CamCo"), (0x0110, "Model X-5"),
                (0x010E, "a crawled photo"), (0x0112, 6),
            ], gps=[
                (1, "N"), (2, [(48, 1), (51, 1), (29988, 1000)]),
                (3, "E"), (4, [(2, 1), (17, 1), (3984, 100)]),
            ]),
            comment="marker comment",
        ))
        expected.append([
            ("jpeg", "description", "a crawled photo"),
            ("jpeg", "make", "CamCo"),
            ("jpeg", "model", "Model X-5"),
            ("jpeg", "orientation", "6"),
            ("jpeg", "gps", "48.858330N 2.294400E"),
            ("jpeg", "comment", "marker comment"),
        ])

        # v9 — PNG textual chunks, all three grammars (+ deflated iTXt)
        png_base = encode_image_png(np.zeros((4, 4, 3), np.uint8))
        blobs.append(add_png_text(png_base, [
            ("Title", "Png Title", "tEXt"),
            ("Description", "descriptive words", "zTXt"),
            ("Comment", "ünïcode cómment", "iTXt"),
            ("Software", "sbs 1.0", "iTXt-z"),
        ]))
        expected.append([
            ("png", "title", "Png Title"),
            ("png", "description", "descriptive words"),
            ("png", "comment", "ünïcode cómment"),
            ("png", "encoder", "sbs 1.0"),
        ])

        # v10 — GIF comment extension spanning two 255-byte sub-blocks
        gif_base = encode_image_gif(np.zeros((4, 4, 3), np.uint8))
        gif_text = "gif caption words " * 16  # 288 bytes
        blobs.append(add_gif_comment(gif_base, gif_text))
        expected.append([("gif", "comment", gif_text)])

        # v11 — WebP VP8X EXIF chunk with an Exif sub-IFD (UNICODE
        # UserComment + DateTimeOriginal)
        blobs.append(add_webp_exif(
            encode_webp_header(640, 480, variant="vp8x"),
            b"Exif\x00\x00" + encode_tiff_exif(
                [(0x010F, "WebCam"), (0x0131, "webenc 2")],
                exif=[(0x9003, "2024:06:07 08:09:10"),
                      (0x9286, user_comment("üser nötes", unicode=True))],
            ),
        ))
        expected.append([
            ("webp", "make", "WebCam"),
            ("webp", "encoder", "webenc 2"),
            ("webp", "date_original", "2024:06:07 08:09:10"),
            ("webp", "comment", "üser nötes"),
        ])

        # v12 — big-endian (MM) Exif: the byte-order dispatch
        blobs.append(add_jpeg_metadata(
            jpeg_base,
            exif=encode_tiff_exif(
                [(0x013B, "BE Shooter"), (0x8298, "(c) somebody")],
                exif=[(0x9003, "2023:12:31 23:59:59")],
                little=False,
            ),
        ))
        expected.append([
            ("jpeg", "artist", "BE Shooter"),
            ("jpeg", "copyright", "(c) somebody"),
            ("jpeg", "date_original", "2023:12:31 23:59:59"),
        ])

        # v13 — Matroska/WebM native tags: Segment Title + SimpleTags
        # spliced into a REAL demuxable audio container (the rebuilt
        # Segment still walks through parse_webm_timeline)
        from sed_binning_spark.pipeline.tags import add_matroska_tags
        from sed_binning_spark.pipeline.webm import encode_webm

        mkv = encode_webm(
            [b"a" * 4, b"b" * 6], [0, 20], track_type=2,
            codec_id="A_OPUS", default_duration_ms=20,
        )
        blobs.append(add_matroska_tags(
            mkv,
            [("title", "Mkv Söng"), ("artist", "Mkv Artist"),
             ("date_released", "2024-02-03")],
            title="Segment Name",
        ))
        expected.append([
            ("webm", "title", "Segment Name"),
            ("webm", "title", "Mkv Söng"),
            ("webm", "artist", "Mkv Artist"),
            ("webm", "date", "2024-02-03"),
        ])

        _TAGS_FIXTURES = (blobs, expected)
    return _TAGS_FIXTURES


def _q_multimodal(spark, sf):
    """REAL media decode as the graded path: ids % 4 == 0 documents become
    valid binary PPM (P6) payloads; ids % 4 == 2 valid GIF89a (a
    grayscale strip over a constant 256-gray palette, LZW stream built
    byte-for-byte in plan expressions via the CLEAR-per-7-literals
    9-bit alignment trick); ids % 4 == 1 valid sequential PNG and
    ids % 4 == 3 valid Adam7-INTERLACED PNG (stored-deflate blocks,
    expression-built containers; the interlaced layout is a plan-time
    pixel permutation of the same raster), all wrapping the SAME samples —
    the md5 digest of the text cycled over them — so the real
    pure-stdlib codecs (decode_payload: PPM parse, PNG inflate +
    sequential AND per-pass unfilter + pass scatter, GIF LZW walk +
    palette resolve) run inside the
    mapInPandas plan and the DuckDB oracle regenerates the identical
    pixel statistics from the same md5, with per-container closed-form
    n_bytes (the GIF leg's grayscale triplication leaves every normalized
    statistic equal; only dims and byte count differ). The checked
    projection scales
    each float32 feature element by 1e6 and rounds to an integer:
    kind/width/height/channels are small exact ints, and the four
    normalized stats carry float32 precision (~1e-7 abs), far finer than
    the 1e-6 rounding grain — so both engines land on the same integer
    deterministically."""
    # FIXTURE legs stay unsplit for the same reason as _q_frame_sample:
    # one-task legs whose per-batch decode memo sees every fixture repeat.
    # The four SYNTHESIS legs below carry DISTINCT md5-built payloads per
    # document (the memo never fires), so they build from the split scan —
    # their expression synthesis and Python decode then parallelize instead
    # of serializing on one core (same fix as frame_sample's gif branch).
    docs = _docs(spark, sf, split=False)
    docs_split = _docs(spark, sf)

    media = synthesize_ppm_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 0),
    ).unionByName(synthesize_gif_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 2),
    )).unionByName(synthesize_png_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 1),
    )).unionByName(synthesize_png_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 3), interlace=True,
    ))
    # round 13: the 12-bit extended-sequential JPEG decode path, gated
    # through the SAME featurizer as extra rows at media_id = -doc_id-1
    # (disjoint from every non-negative id above) — flat spec-built
    # fixtures whose decode is bit-exact, so the oracle carries the
    # features as frozen literals (see _jpeg12_fixture)
    j12_blobs, _, _ = _jpeg12_fixture()
    did = F.col("doc_id")
    media = media.unionByName(docs.where(did % 5 == 0).select(
        (-did - 1).cast("long").alias("media_id"),
        F.when(did % 2 == 0, F.lit(bytearray(j12_blobs[0])))
        .otherwise(F.lit(bytearray(j12_blobs[1]))).alias("payload"),
        F.lit("image/jpeg").alias("mime"),
        F.lit(16).cast("int").alias("width"),
        F.lit(16).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    ))
    # round 14: WebP header sniffing (kind 3 — true dims, no pixel
    # decode) as extra rows at media_id = -doc_id-1 on the DISJOINT
    # doc_id % 5 == 1 subset (j12 holds % 5 == 0); variant by % 3
    webp_blobs, _, _ = _webp_fixture()
    media = media.unionByName(docs.where(did % 5 == 1).select(
        (-did - 1).cast("long").alias("media_id"),
        F.when(did % 3 == 0, F.lit(bytearray(webp_blobs[0])))
        .when(did % 3 == 1, F.lit(bytearray(webp_blobs[1])))
        .otherwise(F.lit(bytearray(webp_blobs[2]))).alias("payload"),
        F.lit("image/webp").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    ))
    feats = extract_features(media, feature_dim=8)
    as_int = F.transform(
        "feat",
        lambda v: F.round(v.cast("double") * F.lit(1e6), 0)
        .cast("bigint").cast("string"),
    )
    base = feats.select(
        "media_id", "n_bytes", F.concat_ws(",", as_int).alias("feat_csv"),
    )
    # round 14: media TAG extraction (pipeline.tags) as extra rows on
    # the DISJOINT doc_id % 5 == 2 subset (j12 holds % 5 == 0, webp
    # % 5 == 1), one row per embedded tag at media_id = -doc_id-1 —
    # eight tag-grammar variants keyed by doc_id % 40, the real
    # ID3/Vorbis/ilst/INFO walks inside extract_media_tags' one
    # mapInPandas stage; the oracle carries the ENCODER-INPUT tag
    # pairs as VALUES literals (see _tags_fixture)
    from sed_binning_spark.pipeline.tags import extract_media_tags

    tag_blobs, _tag_expected = _tags_fixture()
    variants = _TAG_VARIANT_KEYS
    col = F.when(did % 80 == variants[0], F.lit(bytearray(tag_blobs[0])))
    for m, blob in zip(variants[1:], tag_blobs[1:]):
        col = col.when(did % 80 == m, F.lit(bytearray(blob)))
    tag_media = docs.where(did % 5 == 2).select(
        (-did - 1).cast("long").alias("media_id"),
        col.alias("payload"),
    )
    tag_leg = extract_media_tags(tag_media).select(
        "media_id",
        F.octet_length("value").cast("bigint").alias("n_bytes"),
        F.concat(
            F.col("container"), F.lit(":"), F.col("key"),
            F.lit("="), F.col("value"),
        ).alias("feat_csv"),
    )
    # round 14: subtitle cue mining on the DISJOINT doc_id % 5 == 3
    # subset — each doc becomes a two-cue SubRip (even) / WebVTT (odd)
    # payload built in PURE EXPRESSIONS (cue text = md5 halves, timing
    # closed-form in the id), parsed back by the real grammar walkers
    # inside extract_subtitle_cues' one mapInPandas stage; the oracle
    # regenerates every cue fact symbolically from the same md5
    from sed_binning_spark.pipeline.subtitles import (
        extract_subtitle_cues,
        synthesize_subtitle_media_from_text,
    )

    # split: distinct per-doc payloads (see the synthesis-leg note above)
    sub_media = synthesize_subtitle_media_from_text(
        docs_split.where(did % 5 == 3),
    ).select(
        (-F.col("media_id") - 1).cast("long").alias("media_id"),
        "payload",
    )
    # the MUXED subtitle shapes ride the same subset at media_id =
    # -doc_id - 1e9 (disjoint from every -doc_id-1 leg for any corpus
    # under a billion docs), keyed by doc_id % 40: WebVTT-in-MP4
    # (wvtt, ISO 14496-30), 3GPP tx3g, ID3v2 CHAP podcast chapters,
    # and a Matroska S_TEXT/UTF8 track — the real walks, expected
    # rows frozen from the fixture cues (see _mp4_subs_fixture)
    muxed = _mp4_subs_fixture()
    scol = F.when(did % 40 == muxed[0][0],
                  F.lit(bytearray(muxed[0][1])))
    for key, blob, _fmt, _cues in muxed[1:]:
        scol = scol.when(did % 40 == key, F.lit(bytearray(blob)))
    mp4_sub_media = docs.where(did % 5 == 3).select(
        (-did - 1_000_000_000).cast("long").alias("media_id"),
        scol.alias("payload"),
    )
    sub_all = extract_subtitle_cues(
        sub_media.unionByName(mp4_sub_media),
    )
    sub_leg = sub_all.select(
        "media_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.concat(
            F.col("format"), F.lit(":"),
            F.col("cue_index").cast("string"), F.lit("@"),
            F.col("start_ms").cast("string"), F.lit("-"),
            F.col("end_ms").cast("string"), F.lit("="), F.col("text"),
        ).alias("feat_csv"),
    )
    # round 14: the media_manifest triage pass on the last free
    # subset (doc_id % 5 == 4): four fixture payloads whose manifest
    # facts are closed-form in their construction; the engine runs the
    # REAL header/table walks and serializes the row, the oracle
    # carries the declared facts (see _manifest_fixture)
    from sed_binning_spark.pipeline.manifest import media_manifest

    man_blobs, _man_feats = _manifest_fixture()
    man_keys = [4, 9, 14, 19]
    mcol = F.when(did % 20 == man_keys[0], F.lit(bytearray(man_blobs[0])))
    for m, blob in zip(man_keys[1:], man_blobs[1:]):
        mcol = mcol.when(did % 20 == m, F.lit(bytearray(blob)))
    man_media = docs.where(did % 5 == 4).select(
        (-did - 1).cast("long").alias("media_id"),
        mcol.alias("payload"),
    )

    def _s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(""))

    man_leg = media_manifest(man_media).select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.concat(
            F.lit("man:"), _s("container"), F.lit("|"), _s("mime"),
            F.lit("|"), _s("width"), F.lit("|"), _s("height"),
            F.lit("|"), _s("duration_ms"), F.lit("|"), _s("sample_rate"),
            F.lit("|"), _s("channels"), F.lit("|"), _s("n_tags"),
            F.lit("|"), _s("n_cues"),
        ).alias("feat_csv"),
    )
    # round 14: perceptual image hashing (pipeline.imagehash) — the
    # REAL dHash kernel (decode → integer gray → nearest resample →
    # gradient bits) over the md5-pixel PPM fixtures on the same
    # doc_id % 5 == 4 subset at the disjoint -2e9 id space; the 4×2
    # raster reduces to six comparisons with closed-form bit weights,
    # which the oracle replays symbolically from the same md5
    from sed_binning_spark.pipeline.imagehash import image_dhash

    # split: distinct per-doc payloads (see the synthesis-leg note above)
    dh_media = synthesize_ppm_media_from_text(
        docs_split.where(did % 5 == 4),
    ).select(
        (-F.col("media_id") - 2_000_000_000).cast("long")
        .alias("media_id"),
        "payload",
    )
    dh_leg = image_dhash(dh_media).select(
        "media_id",
        F.bit_count("dhash").cast("bigint").alias("n_bytes"),
        F.concat(
            F.lit("dh:"), F.col("dhash").cast("string"),
        ).alias("feat_csv"),
    )
    return (base.unionByName(tag_leg).unionByName(sub_leg)
            .unionByName(man_leg).unionByName(dh_leg))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # A2/A4/A5: uniform int-bins N-D histograms (sparse occupied cells)
        "binning_1d": _q_binning_1d,
        "binning_2d3d": _q_binning_2d3d,
        "binning_4d": _q_binning_4d,
        # A11 + J6: acquisition-time-normalized spectrum (counts / time)
        "norm_spectrum": _q_norm_spectrum,
        # J4: per-pulse explode (pulseId = array position)
        "flash_pulse_frame": _q_flash_pulse_frame,
        # A3 + P3 merged: explicit non-uniform edges over pre-binning filters
        "binning_edges": _q_binning_edges,
        # K1-K4: TIFF/HDF5/NeXus sink round-trip gated by the binning oracle
        "sink_roundtrip": _q_sink_roundtrip,
        # A8: per-partition histogram stack
        "binning_partitions": _q_binning_partitions,
        # P1 merged: range filter + index filter in one plan
        "filters": _q_filters,
        # M2 + P4 merged: 2-D map then drop columns
        "map_drop": _q_map_drop,
        # P5: NULL/NaN row drop (electron-frame dropna)
        "nan_drop": _q_nan_drop,
        # M12: offsets (per-row + mean-reduced, merged)
        "offsets": _q_offsets,
        # W1 + W2 merged: forward and backward fills in one plan
        "fills": _q_fills,
        # M13: timestamped-channel interpolation
        "interp_channel": _q_interp,
        # M3/M4/M5: energy conversions (merged: fit + poly + ns axes)
        "energy_axes": _q_energy_axes,
        # M6: all four energy-correction profiles, one merged oracle query
        "corr_profiles": _q_corr_profiles,
        "dedup_clusters": _q_dedup_clusters,
        # J1/J5: multi-channel outer join + per-train frame broadcast
        "channel_join": _q_channel_join,
        # J2: aux-channel slices -> named scalars
        "aux_combine": _q_aux_combine,
        # A12: diagnostics histogram grid (all axes, one scan)
        "diag_grid": _q_diag_grid,
        # M7/M8: sector alignment + bitwise split
        "sector_align": _q_sector_align,
        "bitwise_split": _q_bitwise_split,
        # M10/M11: momentum + delay calibration
        "k_axis": _q_k_axis,
        # M11 + M12 offset chain, merged (frees a slot for the embedding
        # near-dedup composition below)
        "delay_calib": _q_delay,
        # A9/A10: normalization histograms
        # A9/A10 normalization histograms, merged; F1 bias-series normspec
        "norm_hists": _q_norm_hists,
        "bias_normspec": _q_bias_normspec,
        # S4/S5: mpes ms-marker timestamp synthesis + timed dataframe
        "mpes_timestamps": _q_mpes_timestamps,
        "mpes_timed": _q_mpes_timed,
        # J3: flash-style electron-ID synthesis
        "flash_electron_ids": _q_flash_electron_ids,
        # S7: sxp train-chopping demux
        "sxp_electron_ids": _q_sxp_electron_ids,
        # M1 (rows-only: nondeterministic noise) / M9 (rows-only: grid UDF)
        "jitter": _q_jitter,
        "dfield_correction": _q_dfield,
        # LLM-pipeline operators
        # merged: digest classes + surviving rows in one result
        "dedup_exact": _q_dedup_exact,
        "text_stats": _q_text_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        # merged: winnowing fingerprint + simhash sketch
        "doc_hashes": _q_doc_hashes,
        "seq_pack": _q_seq_pack,
        "minhash_lsh_pairs": _q_minhash_lsh,
        # P6: pulse-frame projection; S9: parquet round-trip
        "pulse_projection": _q_pulse_projection,
        "storage_roundtrip": _q_storage_roundtrip,
        "jaccard_pairs": _q_jaccard_pairs,
        "rolling_hashes": _q_rolling_hashes,
        "ann_topk": _q_ann_topk,
        "ann_pairs_brute": _q_ann_pairs,
        "ann_pairs_lsh": _q_ann_lsh,
        # embedding-cosine near-dedup: brute pairs -> connected components
        # -> representative keep-rows, against a recursive-CTE oracle
        "embedding_dedup_rows": _q_embedding_dedup_rows,
        "multimodal_features": _q_multimodal,
        # frame-sample plan (sequence+explode half of video decode)
        "frame_sample": _q_frame_sample,
        # generic relational surface (the driver records at most 50 queries;
        # a 51st entry silently gets no CORRECTNESS row, so keep this dict
        # at <= 50)
        "decontam_stats": _q_decontam,
    }


def oracle_sql() -> dict[str, str]:
    th = 0.25
    c, s = float(np.cos(th)), float(np.sin(th))
    nu_edges = bin_centers_to_bin_edges(_NU_CENTERS)
    timed_edges = bin_centers_to_bin_edges(np.linspace(0.0, 2048.0, 100, endpoint=False))
    ts_edges = bin_centers_to_bin_edges(np.linspace(0.0, 2048.0, 50, endpoint=False))
    delays_sql = "[" + ", ".join(fsql(d) for d in _SECTOR_DELAYS) + "]"
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
    d_sql = delay_sql("ADC", _DELAY_CALIB["adc_range"], _DELAY_CALIB["delay_range"])

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

    qn = float(np.sqrt((_QVEC * _QVEC).sum()))
    cos_sql = (
        f"(({_dot_sql('embedding', _QVEC)}) / ({_norm_sql('embedding', 64)} * {fsql(qn)}))"
    )

    toks = _TOKS_SQL
    shingle = (
        f"list_transform(range(1, greatest(len({toks}) - 2, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+2], ' '))"
    )
    # decontamination 5-gram digests: empty token list must yield [] (the
    # engine's word_shingles does), not the [''] a bare range(1,2) produces
    shingle5 = (
        f"CASE WHEN len({toks}) = 0 THEN [] ELSE "
        f"list_transform(range(1, greatest(len({toks}) - 4, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+4], ' ')) END"
    )
    decontam_grams = f"list_distinct(list_transform({shingle5}, s -> md5(s)))"

    # Universal-hash MinHash twin: one md5 per shingle (28-bit hex-prefix
    # int), k affine maps (a*h + b) mod p — same plan-time (a, b, p)
    # constants as pipeline.dedup.minhash_params, exact in int64 on both
    # engines.
    from sed_binning_spark.pipeline.dedup import MINHASH_PRIME, minhash_params

    shingle_hashes = (
        f"list_transform({shingle}, s -> "
        f"CAST('0x' || substr(md5(s), 1, 7) AS BIGINT))"
    )
    mh_params = minhash_params(8)

    def mh(i):
        a, b = mh_params[i]
        return (
            f"list_min(list_transform(hs, h -> "
            f"({a} * h + {b}) % {MINHASH_PRIME}))"
        )

    hs_docs = f"(SELECT doc_id, {shingle_hashes} AS hs FROM documents)"

    def band(b, rows_per_band=2):
        parts = " || '#' || ".join(
            f"CAST({mh(b * rows_per_band + r)} AS VARCHAR)" for r in range(rows_per_band)
        )
        return parts

    lsh_bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, {band(b)} AS key FROM {hs_docs}" for b in range(4)
    )

    stop_filters = {
        lang: f"len(list_filter({toks}, x -> x IN ({_STOP_SQL[lang]})))"
        for lang in STOPWORDS
    }
    # language_id's tie-break is STOPWORDS dict order (first listed wins a
    # tied max score), so the CASE must test languages in the same order
    _stop_max = f"greatest({', '.join(stop_filters.values())})"
    _lang_cases = " ".join(
        f"WHEN {stop_filters[lang]} = {_stop_max} THEN '{lang}'"
        for lang in STOPWORDS
    )
    lang_id_sql = (
        f"SELECT doc_id, CASE WHEN text IS NULL THEN 'und' "
        f"WHEN {_stop_max} = 0 THEN 'und' "
        f"{_lang_cases} ELSE 'und' END AS lang_pred FROM documents"
    )
    # unigram_logprob twin: self-scored add-1 model; per-token log-probs
    # quantized to integer micro-nats, so the mean is an exact int sum /
    # (m * 1e6) on both engines (sum(BIGINT) is HUGEINT in DuckDB — CAST)
    # URL-tier twin: the canonical form is predicted CLOSED-FORM from the
    # minting construction (scheme/host lower-cased, default :80 dropped,
    # tracking params dropped, kept params sorted, fragment dropped), so
    # the engine's try_parse_url chain is checked against an independent
    # derivation; group winners rebuilt with a plain GROUP BY over the
    # parseable 3-of-5 rows (unparseable rows keep their literal string,
    # NULL urls are excluded from URL dedup by contract)
    _url_canon_case = (
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN 'no scheme url ' || CAST(l.doc_id AS VARCHAR) "
        "ELSE 'http://host' || CAST(l.doc_id % 25 AS VARCHAR) || "
        "'.example.com/p' || CAST(l.doc_id % 25 AS VARCHAR) || '?a=1&z=2' END"
    )
    lang_lm_sql = (
        f"WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents), "
        "model AS (SELECT token, count(*) AS n FROM tk GROUP BY token), "
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS vocab FROM model), "
        "lut AS (SELECT token, CAST(round(ln((n + 1.0) / (total + 1.0 * (vocab + 1))) "
        "* 1e6, 0) AS BIGINT) AS lm FROM model, tot), "
        "agg AS (SELECT doc_id, CAST(sum(lm) AS BIGINT) AS s, count(*) AS m "
        "FROM tk JOIN lut USING (token) GROUP BY doc_id), "
        "url_grp AS (SELECT doc_id % 25 AS grp, min(doc_id) AS kept, "
        "CAST(count(*) AS BIGINT) AS n FROM documents "
        "WHERE doc_id % 5 IN (0, 1, 2) GROUP BY 1) "
        f"SELECT l.doc_id, l.lang_pred, CAST(s AS DOUBLE) / (m * 1e6) AS unigram_logprob, "
        # perplexity-bucket twin: same bottom-up CASE over the twin's OWN
        # lp derivation under the frozen literal cuts (e0 forces a DOUBLE
        # literal parse, matching Python's float); a token-less doc (s
        # NULL) gets a NULL bucket like the engine's isNotNull gate
        "CASE WHEN s IS NULL THEN NULL "
        f"WHEN CAST(s AS DOUBLE) / (m * 1e6) <= {_PPL_CUTS[0]}e0 THEN 'tail' "
        f"WHEN CAST(s AS DOUBLE) / (m * 1e6) <= {_PPL_CUTS[1]}e0 THEN 'middle' "
        "ELSE 'head' END AS ppl_bucket, "
        # blocklist-audit twin: the full host equals the entry iff the
        # group index is 3 or 7 (the entries are complete hosts, so a
        # label-suffix hit is exactly an equality hit here)
        f"l.doc_id % 20 IN (3, 7) AS src_blocked, "
        f"{_url_canon_case} AS url_canon, "
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN l.doc_id ELSE u.kept END AS url_kept_id, "
        "CASE WHEN l.doc_id % 5 = 4 THEN NULL "
        "WHEN l.doc_id % 5 = 3 THEN CAST(1 AS BIGINT) ELSE u.n END AS url_n_dups "
        f"FROM ({lang_id_sql}) l LEFT JOIN agg ON agg.doc_id = l.doc_id "
        "LEFT JOIN url_grp u ON u.grp = l.doc_id % 25"
    )

    return {
        "binning_1d": _binning_sql([("t", 1000, 60000.0, 120000.0)], ["b0"]),
        "binning_2d3d": (
            "SELECT '2d' AS dims, b0, b1, CAST(NULL AS BIGINT) AS b2, cnt FROM ("
            + _binning_sql(
                [("X", 40, 0.0, 2048.0), ("Y", 40, 0.0, 2048.0)], ["b0", "b1"],
            )
            + ") UNION ALL SELECT '3d' AS dims, b0, b1, b2, cnt FROM ("
            + _binning_sql(
                [("X", 15, 0.0, 2048.0), ("Y", 15, 0.0, 2048.0),
                 ("t", 15, 60000.0, 120000.0)], ["b0", "b1", "b2"],
            )
            + ")"
        ),
        "binning_4d": _binning_sql(
            [("X", 20, 0.0, 2048.0), ("Y", 20, 0.0, 2048.0),
             ("t", 20, 60000.0, 120000.0), ("ADC", 20, 2000.0, 20000.0)],
            ["b0", "b1", "b2", "b3"],
        ),
        "binning_edges": (
            f"SELECT b0, count(*) AS cnt FROM (SELECT "
            f"{bin_index_sql_edges('value', nu_edges)} AS b0 FROM ({_EV_SQL}) "
            f"WHERE ADC > 5000.0 AND ADC < 15000.0) "
            f"WHERE b0 IS NOT NULL GROUP BY b0"
        ),
        # the sink round-trip result must equal the histogram the writers
        # were handed — the oracle is the plain binning SQL
        "sink_roundtrip": (
            f"SELECT b0, b1, count(*) AS cnt FROM (SELECT "
            f"{bin_index_sql('X', 30, 0.0, 2048.0)} AS b0, "
            f"{bin_index_sql('Y', 30, 0.0, 2048.0)} AS b1 "
            f"FROM ({_EV_SQL})) "
            f"WHERE b0 IS NOT NULL AND b1 IS NOT NULL GROUP BY b0, b1"
        ),
        # M1 hash-jitter twin: md5 over the length-prefixed key encoding
        # ("len:value;" per key column + the operator domain tag + seed) -> 52-bit lane -> exact
        # /2^52 scale; every arithmetic step is either exact or a single
        # IEEE rounding shared by both engines
        "jitter": (
            f"SELECT event_id, X + 0.5e0 * noise AS X_jittered, "
            f"Y + 0.5e0 * noise AS Y_jittered FROM (SELECT event_id, X, Y, "
            f"CAST({hex_to_bigint_sql('hx', 1)} AS DOUBLE) "
            f"/ 4503599627370496e0 * 2e0 - 1e0 AS noise FROM ("
            f"SELECT event_id, X, Y, md5("
            f"CAST(length(CAST(file_id AS VARCHAR)) AS VARCHAR) || ':' || "
            f"CAST(file_id AS VARCHAR) || ';' || "
            f"CAST(length(CAST(row_id AS VARCHAR)) AS VARCHAR) || ':' || "
            f"CAST(row_id AS VARCHAR) || ';jitter:7') AS hx FROM ({_EV_SQL})))"
        ),
        "binning_partitions": (
            f"SELECT b0, file_id, count(*) AS cnt FROM (SELECT "
            f"{bin_index_sql('t', 100, 60000.0, 120000.0)} AS b0, file_id "
            f"FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0, file_id"
        ),
        "filters": (
            f"SELECT event_id, value FROM ({_EV_SQL}) "
            f"WHERE value > 100.0 AND value < 400.0 AND row_id < 500.0"
        ),
        "map_drop": (
            f"SELECT event_id, user_id, value, "
            f"X * {fsql(c)} - Y * {fsql(s)} AS Xr, "
            f"X * {fsql(s)} + Y * {fsql(c)} AS Yr FROM ({_EV_SQL})"
        ),
        "nan_drop": (
            f"SELECT event_id, sv1, sv2 FROM (SELECT event_id, "
            f"CASE WHEN event_id % 7 <> 0 THEN value END AS sv1, "
            f"CASE WHEN event_id % 11 = 0 THEN 'NaN'::DOUBLE ELSE ADC END AS sv2 "
            f"FROM ({_EV_SQL})) WHERE sv1 IS NOT NULL AND NOT isnan(sv1) "
            f"AND sv2 IS NOT NULL AND NOT isnan(sv2)"
        ),
        "offsets": (
            f"SELECT event_id, t + 2.0 * ADC + -0.5 * value AS t_off_row, "
            f"round(t + (SELECT avg(ADC) FROM ({_EV_SQL})), 6) AS t_off_mean "
            f"FROM ({_EV_SQL})"
        ),
        # the NaN mask mirrors the engine (and pandas ffill/bfill): a NaN
        # sample is MISSING and must be filled over, not carried forward —
        # IGNORE NULLS alone would treat NaN as a real reading
        "fills": (
            f"SELECT event_id, last_value(sv_f IGNORE NULLS) OVER "
            f"(ORDER BY file_id, row_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_f, "
            f"first_value(sv_b IGNORE NULLS) OVER "
            f"(ORDER BY file_id, row_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sv_b "
            f"FROM (SELECT *, CASE WHEN event_id % 20 = 0 AND NOT isnan(value) "
            f"THEN value END AS sv_f, "
            f"CASE WHEN event_id % 17 = 0 AND NOT isnan(ADC) THEN ADC END AS sv_b "
            f"FROM ({_EV_SQL}))"
        ),
        "interp_channel": (
            f"SELECT event_id, {_np_interp_sql('ts_sec', _INTERP_XS, _INTERP_YS)} AS chan "
            f"FROM ({_EV_SQL})"
        ),
        "energy_axes": (
            f"SELECT event_id, {energy_fit_sql} AS e_fit, {poly_sql} AS e_poly, "
            f"CAST(t AS DOUBLE) * 1e9 * 4.125e-12 * 2.0 AS t_ns FROM ({_EV_SQL})"
        ),
        "corr_profiles": (
            f"SELECT event_id, t + {sph} AS tm_sph, t + {lor} AS tm_lor, "
            f"round(t + {gauss}, 6) AS tm_gauss, t + {asym} AS tm_asym "
            f"FROM ({_EV_SQL})"
        ),
        # A11 + J6: binned counts / per-bin acquisition time. The counts
        # side uses the uniform-arithmetic index twin (the engine routes
        # uniform explicit centers onto the O(1) arithmetic path), the time
        # side the explicit-edges twin — both from the same plan-time edges.
        "norm_spectrum": (
            f"SELECT c.b0 AS b0, round(c.cnt / t.time, 6) AS rate FROM "
            f"(SELECT b0, count(*) AS cnt FROM (SELECT "
            f"{bin_index_sql('X', 100, float(timed_edges[0]), float(timed_edges[-1]), half_bin_shift=False)} "
            f"AS b0 FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0) c "
            f"JOIN (SELECT bin, count(*) * 1.0e-3 AS time FROM (SELECT "
            f"{bin_index_sql_edges('X', timed_edges)} AS bin FROM ({_EV_SQL})) "
            f"WHERE bin IS NOT NULL GROUP BY bin) t ON t.bin = c.b0"
        ),
        "flash_pulse_frame": (
            f"SELECT user_id % 20 AS trainId, "
            f"row_number() OVER (PARTITION BY user_id % 20 ORDER BY event_id) - 1 "
            f"AS pulseId, event_id AS eid, value AS val FROM ({_EV_SQL})"
        ),
        "channel_join": (
            f"SELECT e.trainId, e.pulseId, e.electronId, e.eid, e.val, t.bias FROM "
            f"(SELECT user_id % 20 AS trainId, event_id % 7 AS pulseId, "
            f"row_number() OVER (PARTITION BY user_id % 20, event_id % 7 "
            f"ORDER BY event_id) - 1 AS electronId, "
            f"event_id AS eid, value AS val FROM ({_EV_SQL})) e "
            f"JOIN (SELECT user_id % 20 AS trainId, round(avg(value), 6) AS bias "
            f"FROM ({_EV_SQL}) GROUP BY user_id % 20) t ON t.trainId = e.trainId"
        ),
        "aux_combine": (
            f"SELECT trainId, aux[1] AS bias, aux[3] AS gain, aux[600001] AS probe "
            f"FROM (SELECT user_id % 20 AS trainId, "
            f"list(value ORDER BY event_id) AS aux FROM ({_EV_SQL}) GROUP BY 1)"
        ),
        "diag_grid": " UNION ALL ".join(
            f"SELECT '{ax}' AS axis, b0, count(*) AS cnt FROM (SELECT "
            f"{bin_index_sql(ax, 40, lo, hi, half_bin_shift=False)} AS b0 "
            f"FROM ({_EV_SQL})) WHERE b0 IS NOT NULL GROUP BY b0"
            for ax, lo, hi in [("X", 0.0, 2048.0), ("Y", 0.0, 2048.0),
                               ("t", 60000.0, 120000.0), ("ADC", 2000.0, 20000.0)]
        ),
        "sector_align": (
            f"SELECT event_id, CAST(t - {delays_sql}"
            f"[CAST(event_id % 8 AS INTEGER) + 1] AS REAL) AS t_aligned FROM ({_EV_SQL})"
        ),
        # explicit isnan + bounded range, mirroring the Spark query (NaN
        # must not rely on DuckDB's inconsistent vectorized comparisons)
        "bitwise_split": (
            f"SELECT event_id, CAST(ti % 8 AS TINYINT) AS lo, "
            f"CAST(ti >> 3 AS INTEGER) AS hi FROM "
            f"(SELECT event_id, CASE WHEN NOT isnan(CAST(value AS DOUBLE)) "
            f"AND value BETWEEN -1e7 AND 1e7 "
            f"THEN CAST(floor(value * 100.0) AS BIGINT) END AS ti "
            f"FROM ({_EV_SQL}))"
        ),
        "k_axis": (
            f"SELECT event_id, {kx_sql} AS kx, {ky_sql} AS ky, "
            f"{kx2_sql} AS kx2, {ky2_sql} AS ky2, "
            f"'{_feat_lit}' AS feat_csv, '{_targ_lit}' AS targ_csv, "
            f"'{_tps_lit}' AS tps_csv, '{_pose_lit}' AS pose_csv, "
            f"TRUE AS invd_ok FROM ({_EV_SQL})"
        ),
        "delay_calib": (
            f"SELECT event_id, {d_sql} AS delay, "
            f"-(({d_sql}) + 0.001 * value + 2.5) AS delay_fo FROM ({_EV_SQL})"
        ),
        "norm_hists": (
            f"SELECT 'timed' AS src, bin, count(*) * 1.0e-3 AS time FROM (SELECT "
            f"{bin_index_sql_edges('X', timed_edges)} AS bin FROM ({_EV_SQL})) "
            f"WHERE bin IS NOT NULL GROUP BY bin "
            f"UNION ALL "
            f"SELECT 'timestamps' AS src, bin, round(sum(dt), 6) AS time FROM (SELECT "
            f"{bin_index_sql_edges('X', ts_edges)} AS bin, "
            f"ts_sec - lag(ts_sec) OVER (ORDER BY file_id, row_id) AS dt "
            f"FROM ({_EV_SQL})) WHERE bin IS NOT NULL AND dt IS NOT NULL GROUP BY bin"
        ),
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
        "bias_normspec": (
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
        ),
        "sxp_electron_ids": (
            "SELECT CAST(100000 * (rec + 1) + i // 4 AS BIGINT) AS trainId, "
            "CAST(CASE i % 4 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) AS pulseId, "
            "CAST(CASE i % 4 WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS electronId, "
            "eid, val FROM ("
            "SELECT user_id % 10 AS rec, event_id AS eid, value AS val, "
            "row_number() OVER (PARTITION BY user_id % 10 ORDER BY event_id) - 1 AS i, "
            "count(*) OVER (PARTITION BY user_id % 10) AS n "
            f"FROM ({_EV_SQL})) WHERE i % 4 < 3 AND 4 * (i // 4) + 3 <= n - 2"
        ),
        # runs_ok pins the S3 run-ID resolver (pattern glob + natural
        # sort + recursion + decoy rejection + missing-run raise)
        "mpes_timestamps": (
            f"SELECT event_id, {fsql(_MPES_START)} + len(list_filter("
            f"[{', '.join(str(int(m)) for m in _MS_MARKERS)}], m -> m <= row_id)) "
            f"/ 1000.0 AS timeStamps, TRUE AS runs_ok FROM ({_EV_SQL})"
        ),
        "mpes_timed": (
            f"SELECT CAST(m.i AS BIGINT) AS ms_id, e.value, e.X, "
            f"{fsql(_MPES_START)} + CAST(m.i AS DOUBLE) / 1000.0 AS timeStamps "
            f"FROM (VALUES "
            + ", ".join(f"({i}, {int(m) - 1})" for i, m in enumerate(_MS_MARKERS))
            + f") AS m(i, target) JOIN ({_EV_SQL}) e ON e.row_id = m.target"
        ),
        "flash_electron_ids": (
            f"SELECT user_id % 20 AS trainId, event_id % 7 AS pulseId, "
            f"row_number() OVER (PARTITION BY user_id % 20, event_id % 7 "
            f"ORDER BY event_id) - 1 AS electronId, "
            f"event_id AS eid, value AS val FROM ({_EV_SQL})"
        ),
        # NULL-text rows are excluded from duplicate classes (missing text
        # is not duplicate text) and all preserved by the keep-rows form;
        # the para* CTE chain is the dedup_segments twin over the
        # synthesized paragraph text (keep-first = row_number over
        # (doc_id, pos), reassembly = ORDER BY pos string_agg)
        "dedup_exact": (
            "WITH pbase AS (SELECT doc_id, 'shared header' || chr(10) || chr(10) "
            "|| text || chr(10) || chr(10) || 'group ' || "
            "CAST(doc_id % 5 AS VARCHAR) AS ptext FROM documents), "
            "plists AS (SELECT doc_id, ptext, list_filter("
            "regexp_split_to_array(ptext, '\n{2,}'), "
            "s -> regexp_replace(s, '[ \t\x0B\f\r\n]', '', 'g') != '') AS l "
            "FROM pbase), "
            "psegs AS (SELECT doc_id, u.pos, u.seg FROM (SELECT doc_id, "
            "unnest(list_transform(range(1, len(l) + 1), "
            "i -> {'pos': i, 'seg': l[i]})) AS u FROM plists)), "
            "pkept AS (SELECT doc_id, pos, seg FROM (SELECT doc_id, pos, seg, "
            "row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn "
            "FROM psegs) WHERE rn = 1), "
            "pagg AS (SELECT doc_id, string_agg(seg, chr(10) || chr(10) "
            "ORDER BY pos) AS td, count(*) AS nk FROM pkept GROUP BY doc_id), "
            "para AS (SELECT l.doc_id, CASE WHEN l.ptext IS NULL THEN NULL "
            "ELSE md5(coalesce(td, '')) END AS para_md5, "
            "CAST(CASE WHEN l.ptext IS NULL THEN 0 "
            "ELSE len(l.l) - coalesce(nk, 0) END AS BIGINT) AS para_removed "
            "FROM plists l LEFT JOIN pagg ON pagg.doc_id = l.doc_id) "
            "SELECT k.doc_id, c.n_dups, para.para_md5, para.para_removed FROM "
            "(SELECT doc_id FROM documents WHERE text IS NULL OR doc_id IN "
            "(SELECT min(doc_id) FROM documents WHERE text IS NOT NULL "
            "GROUP BY md5(text))) k LEFT JOIN "
            "(SELECT min(doc_id) AS doc_id, count(*) AS n_dups "
            "FROM documents WHERE text IS NOT NULL GROUP BY md5(text)) c "
            "ON c.doc_id = k.doc_id "
            "LEFT JOIN para ON para.doc_id = k.doc_id"
        ),
        "text_stats": (
            f"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
            f"CAST(len({_WS_SQL}) AS BIGINT) AS n_ws_tokens, "
            f"CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) AS BIGINT) "
            f"AS n_bpe_tokens, "
            f"round(length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')) "
            f"/ CAST(len({_WS_SQL}) AS DOUBLE), 6) AS mean_token_len, "
            f"round(len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) "
            f"/ CAST(length(text) AS DOUBLE), 6) AS punct_ratio, "
            f"round(len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
            f"x -> x IN ({_STOP_SQL['en']}))) / CAST(len({_WS_SQL}) AS DOUBLE), 6) "
            f"AS stopword_ratio, "
            f"round(len(list_distinct({_WS_SQL})) / CAST(len({_WS_SQL}) AS DOUBLE), 6) "
            f"AS uniq_token_ratio, "
            f"{_rep_frac_sql('grams2', 'top')} AS top_2gram_char_frac, "
            f"{_rep_frac_sql('grams5', 'dup')} AS dup_5gram_char_frac, "
            # BPE round-trip twin: the Sennrich reconstruction of ANY
            # true per-word partition is the pre-token stream re-joined
            # with spaces plus one trailing space per word — derivable
            # from the pre-tokenizer alone, no merge table needed
            "CASE WHEN text IS NULL THEN NULL WHEN len(pre) = 0 THEN md5('') "
            "ELSE md5(array_to_string(pre, ' ') || ' ') END AS bpe_rt_md5, "
            # literal [('t','h')] table: merges = non-word-final 'th'
            # adjacencies (no overlap, no cascade), so the subword count
            # is len(w) - matches + (1 if w ends with 'th')
            "CASE WHEN text IS NULL THEN NULL ELSE CAST(coalesce(list_sum("
            "list_transform(pre, w -> length(w) "
            "- len(regexp_extract_all(w, 'th')) "
            "+ CASE WHEN ends_with(w, 'th') THEN 1 ELSE 0 END)), 0) "
            "AS BIGINT) END AS n_bpe_th "
            f"FROM (SELECT doc_id, text, {_grams_sql(2)} AS grams2, "
            f"{_grams_sql(5)} AS grams5, "
            f"regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_"
            + _WS_CLASS[1:-1] + "]') AS pre FROM documents)"
        ),
        # every ratio is int/int division of identical counts, so the rule
        # comparisons are bit-identical across engines; NULL rules (blank
        # doc) fail via coalesce(false) exactly like the engine
        "quality_score": (
            f"SELECT doc_id, round(n_rules / 5.0, 6) AS quality, "
            f"n_rules / 5.0 >= 0.8 AS keep, "
            f"n_url, n_email, n_ip, n_phone, dup_line_ratio, "
            f"dup_line_frac, dup_line_char_frac, n_badword_tokens, scrub_md5, "
            f"round(clf_prob_raw, 6) AS clf_prob, "
            f"coalesce(clf_prob_raw >= 0.5, false) AS clf_keep, "
            f"CAST(({_clf_n_train_sql()}) AS BIGINT) AS clf_n_train "
            f"FROM (SELECT doc_id, clf_prob_raw, {_pii_audit_sql()}, "
            f"CAST(coalesce(n_ws BETWEEN 20 AND 100000, false) AS INT) + "
            f"CAST(coalesce(mtl BETWEEN 3.0 AND 10.0, false) AS INT) + "
            f"CAST(coalesce(punct <= 0.2, false) AS INT) + "
            f"CAST(coalesce(stop >= 0.01, false) AS INT) + "
            f"CAST(coalesce(uniq >= 0.45, false) AS INT) AS n_rules "
            f"FROM (SELECT doc_id, {_PII_TEXT_SQL} AS pii_text, "
            f"length(text) AS n_chars, "
            f"len({_WS_SQL}) AS n_ws, "
            f"length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')) "
            f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS mtl, "
            f"len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')) "
            f"/ CAST(nullif(length(text), 0) AS DOUBLE) AS punct, "
            f"len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
            f"x -> x IN ({_STOP_SQL['en']}))) "
            f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS stop, "
            f"len(list_distinct({_WS_SQL})) "
            f"/ CAST(nullif(len({_WS_SQL}), 0) AS DOUBLE) AS uniq, "
            # literal-model classifier twin: same feature order, same
            # left-associated z accumulation (lateral aliases), NULL
            # text -> NULL prob
            f"CASE WHEN n_chars IS NULL THEN NULL "
            f"ELSE 1.0 / (1.0 + exp(-({_clf_z_sql()}))) END AS clf_prob_raw "
            f"FROM documents))"
        ),
        # NULL duration (NULL n_chars) is dropped, mirroring the engine's
        # explicit filter — greatest() skips NULLs in both engines, so
        # without the WHERE an unknown-duration row would fabricate a
        # frame at t=0. The gif leg regenerates the animated fixture's
        # timeline and per-frame stats closed-form (see _q_frame_sample).
        "frame_sample": (
            "SELECT 'plan' AS leg, doc_id, CAST(unnest(generate_series(0, "
            "n_chars - 1, 25)) AS BIGINT) AS frame_ms, "
            "CAST(NULL AS INT) AS frame_index, "
            "CAST(NULL AS BIGINT) AS delay_ms, "
            "CAST(NULL AS INT) AS fwidth, CAST(NULL AS INT) AS fheight, "
            "CAST(NULL AS DOUBLE) AS fmean, CAST(NULL AS DOUBLE) AS fstd, "
            "CAST(NULL AS DOUBLE) AS fmin, CAST(NULL AS DOUBLE) AS fmax, "
            "CAST(NULL AS BIGINT) AS fn_bytes, "
            "CAST(NULL AS BOOLEAN) AS fkeyframe "
            "FROM documents WHERE n_chars > 0 "
            "UNION ALL SELECT 'gif', doc_id, "
            "CAST(5 * f * (f + 3) AS BIGINT), CAST(f AS INT), "
            "CAST((2 + f) * 10 AS BIGINT), 24, 1, "
            "round(m / 255.0, 6), "
            "round(sqrt(list_sum(list_transform(bs, x -> "
            "(x - m) * (x - m))) / 24.0) / 255.0, 6), "
            "round(CAST(list_min(bs) AS DOUBLE) / 255.0, 6), "
            "round(CAST(list_max(bs) AS DOUBLE) / 255.0, 6), "
            # composited GIF canvases are not byte-delimited and carry
            # no sync concept
            "CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN) "
            "FROM (SELECT doc_id, f, bs, list_sum(bs) / 24.0 AS m FROM "
            "(SELECT doc_id, f, list_transform(range(0, 24), j -> "
            "CAST('0x' || substr(md5(text), "
            "CAST(((j + f) % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
            "FROM documents, range(3) t(f) "
            "WHERE doc_id % 3 = 0 AND text IS NOT NULL)) "
            # Motion-JPEG-in-MP4: flat 8-multiple frames decode EXACTLY,
            # so the stats are val/255 with zero spread; byte extents
            # are the frozen fixture sizes; no stss = every sample sync
            "UNION ALL SELECT 'mp4j', doc_id, "
            "CAST(5 * t.f * (t.f + 5) AS BIGINT), CAST(t.f AS INT), "
            "CAST((3 + t.f) * 10 AS BIGINT), 16, 16, "
            "round(t.val / 255.0, 6), CAST(0 AS DOUBLE), "
            "round(t.val / 255.0, 6), round(t.val / 255.0, 6), "
            "CAST(t.sz AS BIGINT), TRUE "
            f"FROM documents, (VALUES {_mp4j_values_sql()}) t(v, f, val, sz) "
            "WHERE doc_id % 3 = 1 AND doc_id % 2 = t.v "
            # real-codec metadata-only timeline: container timing, the
            # closed-form 6+4f+2w byte extents, odd-sample stss flags,
            # sample-entry dims, NULL pixel statistics
            "UNION ALL SELECT 'avc1', doc_id, "
            "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
            "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
            # keyframes_only over the same GIF fixture: only frame 0
            # (the single independently-decodable frame) survives the
            # decode cap — same timing/stats closed form at f = 0
            "UNION ALL SELECT 'gifk', doc_id, "
            "CAST(0 AS BIGINT), CAST(0 AS INT), CAST(20 AS BIGINT), 24, 1, "
            "round(m / 255.0, 6), "
            "round(sqrt(list_sum(list_transform(bs, x -> "
            "(x - m) * (x - m))) / 24.0) / 255.0, 6), "
            "round(CAST(list_min(bs) AS DOUBLE) / 255.0, 6), "
            "round(CAST(list_max(bs) AS DOUBLE) / 255.0, 6), "
            "CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN) "
            "FROM (SELECT doc_id, bs, list_sum(bs) / 24.0 AS m FROM "
            "(SELECT doc_id, list_transform(range(0, 24), j -> "
            "CAST('0x' || substr(md5(text), "
            "CAST((j % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
            "FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL)) "
            # keyframes_only over the avc1 timeline: stss prunes before
            # decode, the CONTAINER sample index survives — exactly the
            # even 0-indexed rows of the avc1 leg, nothing renumbered
            "UNION ALL SELECT 'avck', doc_id, "
            "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
            "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
            "AND t.f % 2 = 0 "
            # B-frame presentation timing: decode start 5f(f+3) + the
            # per-sample ctts offset 30·((f+w)%2) + the 50 ms empty-edit
            # delay; no stss → every sample sync
            "UNION ALL SELECT 'avcb', doc_id, "
            "CAST(5 * t.f * (t.f + 3) "
            "+ 30 * ((t.f + doc_id % 2) % 2) + 50 AS BIGINT), "
            "CAST(t.f AS INT), "
            "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
            # fragmented (DASH/CMAF) timeline: tfdt-anchored starts keep
            # the 5f(f+3) closed form; 2-sample fragments whose first
            # sample is sync → keyframe = (f % 2 = 0)
            "UNION ALL SELECT 'frag', doc_id, "
            "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
            "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(5 + 2 * t.f + (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
            "FROM documents, range(5) t(f) "
            "WHERE doc_id % 3 = 1 AND t.f < 4 + (doc_id % 2) "
            # WebM BlockGroup timeline: same 5f(f+3) starts, per-block
            # durations = the deltas 10f+20 with an honest NULL on the
            # final block; keyframe = no ReferenceBlock (even f)
            "UNION ALL SELECT 'webm', doc_id, "
            "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
            "CAST(CASE WHEN t.f < 2 + (doc_id % 2) "
            "THEN 10 * t.f + 20 END AS BIGINT), 320, 180, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(7 + 3 * t.f + (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
            # LACED WebM audio (round 14): Xiph (variant 0) / EBML
            # (variant 1) lace sizes decode to exact 6+3f+w extents;
            # laced timestamps step by the 20 ms DefaultDuration;
            # SimpleBlock audio → every frame sync, NULL dims
            "UNION ALL SELECT 'webl', doc_id, "
            "CAST(20 * t.f AS BIGINT), CAST(t.f AS INT), "
            "CAST(20 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(6 + 3 * t.f + (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(5) t(f) "
            "WHERE doc_id % 3 = 1 AND t.f < 4 + (doc_id % 2) "
            # audio-track (soun) timeline: same 5f(f+3) closed form,
            # NULL dims in audio mode, no stss → every sample sync
            "UNION ALL SELECT 'm4au', doc_id, "
            "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
            "CAST((2 + t.f) * 10 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(9 + 2 * t.f + (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
            # Ogg Opus: all-20 ms TOCs → starts 20f, packet sizes
            # 5+2f+w, every packet independently decodable (sync)
            "UNION ALL SELECT 'oggp', doc_id, "
            "CAST(20 * t.f AS BIGINT), CAST(t.f AS INT), "
            "CAST(20 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(5 + 2 * t.f + (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 1 AND t.f < 3 + (doc_id % 2) "
            # MPEG audio: exact 36 ms frames at 32 kHz; frame bytes
            # 432/288 by the variant bitrate (96/64 kbps)
            "UNION ALL SELECT 'mp3f', doc_id, "
            "CAST(36 * t.f AS BIGINT), CAST(t.f AS INT), "
            "CAST(36 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(432 - 144 * (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
            # ADTS AAC: exact 64 ms frames at 16 kHz; frame bytes =
            # 7-byte header + payload 10+3f+w
            "UNION ALL SELECT 'aacf', doc_id, "
            "CAST(64 * t.f AS BIGINT), CAST(t.f AS INT), "
            "CAST(64 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(17 + 3 * t.f + (doc_id % 2) AS BIGINT), TRUE "
            "FROM documents, range(4) t(f) "
            "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
            # audio twin: 8-bit WAV samples = md5 bytes; every stat is a
            # dyadic rational ((b-128)/128), so the std's msq - mu*mu
            # form and the engine's mean-of-squared-deviations are the
            # SAME exact double
            "UNION ALL SELECT 'wav', doc_id, "
            "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
            "round((list_min(bs) - 128) / 128.0, 6), "
            "round((list_max(bs) - 128) / 128.0, 6), "
            "CAST(4 AS BIGINT), CAST(NULL AS BOOLEAN) "
            "FROM (SELECT doc_id, w, bs, "
            "(list_sum(bs) - 512) / 512.0 AS mu, "
            "list_sum(list_transform(bs, x -> "
            "((x - 128) / 128.0) * ((x - 128) / 128.0))) / 4.0 AS msq "
            "FROM (SELECT doc_id, w, list_transform(range(0, 4), j -> "
            "CAST('0x' || substr(md5(text), "
            "CAST((w * 4 + j) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
            "FROM documents, range(4) t(w) "
            "WHERE doc_id % 2 = 0 AND text IS NOT NULL)) "
            # transcode twin: the 1 kHz fixture resampled to 500 Hz at
            # an integral ratio picks EXACT source samples — windows of
            # 2 over the even md5 bytes (indexes 4w, 4w+2)
            "UNION ALL SELECT 'rsw', doc_id, "
            "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
            "round((list_min(bs) - 128) / 128.0, 6), "
            "round((list_max(bs) - 128) / 128.0, 6), "
            "CAST(2 AS BIGINT), CAST(NULL AS BOOLEAN) "
            "FROM (SELECT doc_id, w, bs, "
            "(list_sum(bs) - 256) / 256.0 AS mu, "
            "list_sum(list_transform(bs, x -> "
            "((x - 128) / 128.0) * ((x - 128) / 128.0))) / 2.0 AS msq "
            "FROM (SELECT doc_id, w, list_transform(range(0, 2), j -> "
            "CAST('0x' || substr(md5(text), "
            "CAST((w * 4 + j * 2) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
            "FROM documents, range(4) t(w) "
            "WHERE doc_id % 2 = 0 AND text IS NOT NULL)) "
            # telephony twins: the same md5 bytes behind G.711 format
            # tags, expanded through the ITU table arithmetic per byte
            + _g711_leg_sql("ulw", "ulaw", 1)
            + _g711_leg_sql("alw", "alaw", 3)
            # FLAC (round 14): LOSSLESS, so the twin re-derives every
            # window stat from the fixture's integer signal formula
            # x[i,c] = ((i²·(7+v) + 13i + 401c) % 4001) − 2000 — no
            # frozen literals; the engine must actually decode. All
            # intermediates are exact dyadics (sums < 2^33 numerators),
            # so sqrt(msq − mu²) equals numpy's std bit-for-bit
            + "UNION ALL SELECT 'flc', doc_id, "
            "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
            "round(mn / 32768.0, 6), round(mx / 32768.0, 6), "
            "CAST(16 AS BIGINT), CAST(NULL AS BOOLEAN) "
            "FROM (SELECT doc_id, w, "
            "list_sum(xs) / (len(xs) * 32768.0) AS mu, "
            "list_sum(list_transform(xs, x -> CAST(x AS DOUBLE) * x)) "
            "/ (len(xs) * 1073741824.0) AS msq, "
            "list_min(xs) AS mn, list_max(xs) AS mx "
            "FROM (SELECT doc_id, w, list_transform("
            "range(0, 16 * (1 + v)), j -> "
            "(((16 * w + j // (1 + v)) * (16 * w + j // (1 + v)) "
            "* (7 + v) + 13 * (16 * w + j // (1 + v)) "
            "+ 401 * (j % (1 + v))) % 4001) - 2000) AS xs "
            "FROM (SELECT doc_id, doc_id % 2 AS v FROM documents "
            "WHERE doc_id % 3 = 2), range(4) t(w))) "
            # IMA-/MS-ADPCM: fixed lossy fixtures through the real block
            # decoders; truth frozen at plan time (see _ima_fixture)
            + "UNION ALL SELECT "
            "CASE WHEN doc_id % 4 = 2 THEN 'ima' ELSE 'msa' END, "
            "doc_id, CAST(t.sms AS BIGINT), "
            "CAST(t.w AS INT), CAST(t.dur AS BIGINT), "
            "CAST(NULL AS INT), CAST(NULL AS INT), "
            "round(t.mu, 6), round(t.sd, 6), "
            "round(t.mn, 6), round(t.mx, 6), "
            "CAST(16 AS BIGINT), CAST(NULL AS BOOLEAN) "
            f"FROM documents, (VALUES {_ima_values_sql()}) "
            "t(v, w, sms, dur, mu, sd, mn, mx) "
            "WHERE doc_id % 2 = 0 AND t.v = CASE doc_id % 8 "
            "WHEN 2 THEN 0 WHEN 6 THEN 1 WHEN 0 THEN 2 ELSE 3 END"
        ),
        # NULL text: every stop count is NULL, so an explicit branch is
        # needed — the CASE would otherwise fall through to ELSE where the
        # engine says 'und'
        "lang_id": lang_lm_sql,
        "doc_hashes": (
            f"SELECT f.doc_id, f.fingerprint, s.simhash, c.clean_md5, "
            f"c4.c4_md5, c4.c4_keep FROM "
            f"(SELECT doc_id, md5(array_to_string({_TOKS_SQL}, ' ')) AS fingerprint "
            f"FROM documents) f JOIN ({_simhash_oracle_sql(bits=16)}) s "
            f"ON s.doc_id = f.doc_id "
            f"LEFT JOIN (SELECT doc_id, md5({_strip_html_sql('htext')}) AS clean_md5 "
            f"FROM (SELECT doc_id, '<!DOCTYPE html><p>' || text || "
            f"'</p><br>x &amp; y<script>s()</script>' AS htext FROM documents)) c "
            f"ON c.doc_id = f.doc_id "
            f"LEFT JOIN ({_c4_oracle_sql()}) c4 ON c4.doc_id = f.doc_id"
        ),
        # pack_chunks twin: md5 length-prefixed key -> 52-bit lane -> exact
        # /2^52 uniform -> shard; the layout is a per-shard window cumsum
        # over doc_id order and the slice arithmetic is pure int64
        "seq_pack": (
            "SELECT * FROM (" + _pack_leg_sql("id", "doc_id") + ")"
            + " UNION ALL SELECT * FROM ("
            # shuffled leg: the in-shard order key is hash_uniform over
            # doc_id in domain 'pack-order' — ordering by the 52-bit
            # integer equals ordering by the engine's n/2^52 double
            # (division by a power of two is monotone and exact)
            + _pack_leg_sql(
                "shuffled",
                hex_to_bigint_sql(
                    "md5(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) "
                    "|| ':' || CAST(doc_id AS VARCHAR) || ';pack-order:0')",
                    1,
                )
                + ", doc_id",
            )
            + ")"
        ),
        "minhash_lsh_pairs": (
            f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"({lsh_bands}) a JOIN ({lsh_bands}) b "
            f"ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"
        ),
        # connected components of the LSH pair graph: recursive min-label
        # closure — the SQL twin of pipeline.cluster.connected_components
        "dedup_clusters": (
            f"WITH RECURSIVE lsh_pairs AS ("
            f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"({lsh_bands}) a JOIN ({lsh_bands}) b "
            f"ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), "
            f"edges AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs "
            f"UNION SELECT id_b, id_a FROM lsh_pairs), "
            f"reach(u, r) AS (SELECT u, u FROM edges "
            f"UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u) "
            f"SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u"
        ),
        # NaN electronId: NaN = 0 is false, the isnan branch keeps it
        "pulse_projection": (
            f"SELECT event_id, electronId, pulseADC FROM (SELECT event_id, "
            f"CASE WHEN event_id % 13 = 0 THEN 'NaN'::DOUBLE "
            f"WHEN event_id % 17 = 0 THEN NULL "
            f"ELSE CAST(event_id % 3 AS DOUBLE) END AS electronId, "
            f"ADC AS pulseADC FROM ({_EV_SQL})) "
            f"WHERE electronId = 0 OR electronId IS NULL OR isnan(electronId)"
        ),
        # round-trip identity: what the buffer cache reads back must equal
        # the frame it was given; src_file pins the NATURAL file-sort
        # (part2 before part10 — a lexical sort swaps even/odd attribution
        # and fails the hash); buffer_ok pins the S8 schema-validation raise
        # parquet leg: even/odd file attribution; csv/json legs (S1): the
        # id columns round-tripped through the text formats, value NULL
        "storage_roundtrip": (
            f"SELECT event_id, user_id, value, "
            f"CAST(event_id % 2 AS INT) AS src_file, TRUE AS buffer_ok, "
            f"TRUE AS download_ok, 'parquet' AS src_fmt FROM ({_EV_SQL}) "
            f"UNION ALL SELECT event_id, user_id, CAST(NULL AS DOUBLE), "
            f"0, TRUE, TRUE, 'csv' FROM ({_EV_SQL}) "
            f"UNION ALL SELECT event_id, user_id, CAST(NULL AS DOUBLE), "
            f"0, TRUE, TRUE, 'json' FROM ({_EV_SQL}) "
            # warc leg: the ids round-trip the full WARC/HTTP/strip_html
            # pipeline; the oracle predicts them from the construction
            f"UNION ALL SELECT event_id, user_id, "
            f"CAST(event_id % 997 AS DOUBLE), CAST(event_id % 3 AS INT), "
            f"TRUE, TRUE, 'warc' FROM ({_EV_SQL}) WHERE event_id % 101 = 0"
        ),
        "jaccard_pairs": (
            f"SELECT p.id_a, p.id_b, round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
            f" / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard FROM "
            f"(SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"({lsh_bands}) a JOIN ({lsh_bands}) b "
            f"ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) p "
            f"JOIN (SELECT doc_id, list_distinct({shingle}) AS sh FROM documents) sa "
            f"ON sa.doc_id = p.id_a "
            f"JOIN (SELECT doc_id, list_distinct({shingle}) AS sh FROM documents) sb "
            f"ON sb.doc_id = p.id_b"
        ),
        # rh_csv = winnowing fingerprints (lowercased dedup tokens,
        # partial windows for short docs); text_subdedup/n_sub_removed =
        # ExactSubstr twin on RAW tokens with STRICT 5-token windows:
        # rank-1 per window hash is the global keep-first winner, losers'
        # starts mark covered tokens, the doc rebuilds from survivors
        "rolling_hashes": (
            "WITH tkd AS (SELECT doc_id, text, "
            f"{_WS_SQL} AS tk FROM documents), "
            "occ AS (SELECT doc_id, u.i - 1 AS s, "
            "md5(array_to_string(tk[u.i:u.i+4], ' ')) AS h "
            "FROM tkd, UNNEST(range(1, len(tk) - 3)) AS u(i) "
            "WHERE len(tk) >= 5), "
            "lose AS (SELECT doc_id, s FROM (SELECT doc_id, s, "
            "row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn "
            "FROM occ) WHERE rn > 1), "
            "dup AS (SELECT doc_id, list_sort(list(s)) AS ds "
            "FROM lose GROUP BY doc_id) "
            "SELECT t.doc_id, "
            f"array_to_string(list_transform("
            f"range(1, greatest(len({toks}) - 4, 1) + 1), "
            f"i -> md5(array_to_string({toks}[i:i+4], ' '))), ',') AS rh_csv, "
            # the Rabin-Karp form, value-exact: full windows via the
            # independent per-window left fold, the single whole-doc
            # partial window for 1..4-token docs, NULL for token-less
            f"CASE WHEN len({toks}) >= 5 THEN array_to_string("
            f"list_transform({rk_window_hashes_sql(toks, 5)}, "
            f"x -> CAST(x AS VARCHAR)), ',') "
            f"WHEN len({toks}) > 0 THEN "
            f"CAST({rk_whole_doc_hash_sql(toks)} AS VARCHAR) "
            f"END AS rh_roll_csv, "
            # coalesce: DuckDB array_to_string([]) is NULL where Spark
            # concat_ws([]) is '' — a fully-deduplicated doc must be ''
            "CASE WHEN t.text IS NULL THEN NULL ELSE coalesce(array_to_string("
            "list_filter(list_transform(range(1, len(tk) + 1), i -> "
            "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
            "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
            "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL), ' '), '') END "
            "AS text_subdedup, "
            "CASE WHEN t.text IS NULL THEN 0 ELSE CAST(len(tk) AS BIGINT) - "
            "len(list_filter(list_transform(range(1, len(tk) + 1), i -> "
            "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
            "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
            "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL)) END "
            "AS n_sub_removed, "
            # the md5-path dedup run must remove the same token count —
            # the md5 replay above IS its oracle, emitted twice on purpose
            "CASE WHEN t.text IS NULL THEN 0 ELSE CAST(len(tk) AS BIGINT) - "
            "len(list_filter(list_transform(range(1, len(tk) + 1), i -> "
            "CASE WHEN len(list_filter(coalesce(d.ds, CAST([] AS BIGINT[])), "
            "x -> x <= i - 1 AND i - 1 <= x + 4)) > 0 THEN NULL "
            "ELSE tk[CAST(i AS INT)] END), v -> v IS NOT NULL)) END "
            "AS n_submd5_removed "
            "FROM tkd t LEFT JOIN dup d USING (doc_id)"
        ),
        "dfield_correction": _dfield_oracle_sql(),
        "multimodal_features": _multimodal_oracle_sql(),
        # NaN reject mirrors the engine: NaN sorts above every real double
        # in DESC order in BOTH engines, so a NaN-poisoned embedding would
        # otherwise take the #1 slot
        # one top-10 CTE, emitted under both path labels: full-probe IVF
        # is exact, so both engine paths must hash-match the same rows
        "ann_topk": (
            f"WITH topk AS (SELECT vec_id, {cos_sql} AS score FROM embeddings "
            f"WHERE ({cos_sql}) IS NOT NULL AND NOT isnan({cos_sql}) "
            f"ORDER BY score DESC, vec_id LIMIT 10), "
            "valid AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE embedding IS NOT NULL AND len(embedding) >= 64), "
            # the pq/pca-fit tiers additionally reject non-finite vectors
            # (pq_encode -> NULL code; pca_fit skips the row) — pca_apply
            # does NOT (a poisoned projection surfaces as NULL elements)
            "finite AS (SELECT vec_id, embedding FROM valid WHERE "
            "len(list_filter(embedding[1:64], x -> isnan(x) "
            "OR isinf(x))) = 0) "
            f"SELECT 'brute' AS path, vec_id, score FROM topk "
            f"UNION ALL SELECT 'ivf_full_probe' AS path, vec_id, score FROM topk "
            f"UNION ALL {_pq_oracle_sql()} "
            f"UNION ALL SELECT 'pca_c0' AS path, vec_id, {_pca_proj_sql(0)} "
            "AS score FROM valid "
            f"UNION ALL SELECT 'pca_c1' AS path, vec_id, {_pca_proj_sql(1)} "
            "AS score FROM valid "
            # pca_fit moment twins: mean per dim, total variance (= trace
            # of the covariance = eigenvalue sum), usable-row count
            "UNION ALL SELECT 'pca_fit_mean' AS path, CAST(i AS BIGINT) "
            "AS vec_id, round(m, 6) AS score FROM (SELECT i, "
            "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) AS m "
            "FROM finite, range(64) t(i) GROUP BY i) "
            "UNION ALL SELECT 'pca_fit_var' AS path, CAST(-1 AS BIGINT), "
            "round(sum(vx), 6) FROM (SELECT "
            "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * "
            "CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) - "
            "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) * "
            "avg(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)) AS vx "
            "FROM finite, range(64) t(i) GROUP BY i) "
            "UNION ALL SELECT 'pca_fit_n' AS path, CAST(-2 AS BIGINT), "
            "CAST(count(*) AS DOUBLE) FROM finite"
        ),
        "ann_pairs_brute": (
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a, embeddings b "
            f"WHERE a.vec_id < b.vec_id AND NOT isnan({_pair_cos_sql()}) "
            f"AND ({_pair_cos_sql()}) > 0.45e0"
        ),
        "ann_pairs_lsh": _lsh_pairs_oracle_sql(),
        # recursive min-label closure over the brute pair graph, then drop
        # every non-representative — the SQL twin of embedding_dedup(exact)
        "embedding_dedup_rows": (
            f"WITH RECURSIVE cos_pairs AS ("
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a, embeddings b "
            f"WHERE a.vec_id < b.vec_id AND NOT isnan({_pair_cos_sql()}) "
            f"AND ({_pair_cos_sql()}) > 0.45e0), "
            f"edges AS (SELECT id_a AS u, id_b AS v FROM cos_pairs "
            f"UNION SELECT id_b, id_a FROM cos_pairs), "
            f"reach(u, r) AS (SELECT u, u FROM edges "
            f"UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u), "
            f"victims AS (SELECT u FROM reach GROUP BY u HAVING u != min(r)) "
            f"SELECT vec_id FROM embeddings "
            f"WHERE vec_id NOT IN (SELECT u FROM victims)"
        ),
        # contamination_stats twin: distinct md5 5-gram digests per side,
        # benchmark = every 10th document; a gram-less (blank/NULL text)
        # training document still reports one row with zero matches
        "decontam_stats": (
            f"WITH dg AS (SELECT doc_id, {decontam_grams} AS grams "
            "FROM documents WHERE doc_id % 10 != 0), "
            "bg AS (SELECT DISTINCT gram FROM (SELECT unnest("
            f"{decontam_grams}) AS gram FROM documents WHERE doc_id % 10 = 0)), "
            "hits AS (SELECT doc_id, count(*) AS m FROM "
            "(SELECT doc_id, unnest(grams) AS gram FROM dg) t "
            "JOIN bg USING (gram) GROUP BY doc_id) "
            "SELECT dg.doc_id, CAST(coalesce(len(dg.grams), 0) AS BIGINT) AS n_grams, "
            "CAST(coalesce(h.m, 0) AS BIGINT) AS n_matched, "
            "coalesce(h.m, 0) >= 2 AS contaminated "
            "FROM dg LEFT JOIN hits h USING (doc_id)"
        ),
    }


def _ima_values_sql() -> str:
    """(variant, window, start_ms, dur_ms, mean, std, min, max) rows of
    the IMA-ADPCM fixture as a VALUES list — stats from the plan-time
    decode (the frozen-model pattern; floats as string-cast DOUBLEs so
    DuckDB parses the exact repr instead of a DECIMAL literal)."""
    _, rows = _ima_fixture()
    return ", ".join(
        f"({v}, {w}, {sms}, {dur}, "
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in (mu, sd, mn, mx))
        + ")"
        for (v, w, sms, dur, mu, sd, mn, mx) in rows
    )


def _g711_leg_sql(leg: str, law: str, mod: int) -> str:
    """DuckDB twin of a G.711 frame_sample audio leg: regenerate the
    16 md5 bytes, expand each through the ITU-T table ARITHMETIC (not a
    lookup — the closed forms below are the same public-reference
    integer expressions _g711_table vectorizes), window by 4, and
    reproduce mean/std/min/max over the /32768-normalized values. Every
    intermediate is an exact dyadic rational (int/2^15 sums, squares at
    /2^30, all numerators far under 2^53), so both engines land on the
    same double before the round(…, 6)."""
    b = ("CAST('0x' || substr(md5(text), "
         "CAST((w * 4 + j) * 2 + 1 AS INTEGER), 2) AS BIGINT)")
    if law == "ulaw":
        u = f"(255 - {b})"
        t = f"(((({u} & 15) << 3) + 132) << (({u} >> 4) & 7))"
        lin = f"(CASE WHEN {u} >= 128 THEN 132 - {t} ELSE {t} - 132 END)"
    else:
        a = f"xor({b}, 85)"
        t0 = f"(({a} & 15) << 4)"
        seg = f"(({a} >> 4) & 7)"
        t = (f"(CASE WHEN {seg} = 0 THEN {t0} + 8 "
             f"WHEN {seg} = 1 THEN {t0} + 264 "
             f"ELSE ({t0} + 264) << ({seg} - 1) END)")
        lin = f"(CASE WHEN {a} >= 128 THEN {t} ELSE -{t} END)"
    return (
        f"UNION ALL SELECT '{leg}', doc_id, "
        "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
        "CAST(NULL AS INT), CAST(NULL AS INT), "
        "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
        "round(list_min(ls) / 32768.0, 6), "
        "round(list_max(ls) / 32768.0, 6), "
        "CAST(4 AS BIGINT), CAST(NULL AS BOOLEAN) "
        "FROM (SELECT doc_id, w, ls, "
        "list_sum(ls) / 4.0 / 32768.0 AS mu, "
        "list_sum(list_transform(ls, x -> "
        "(x / 32768.0) * (x / 32768.0))) / 4.0 AS msq "
        "FROM (SELECT doc_id, w, list_transform(range(0, 4), j -> "
        f"{lin}) AS ls "
        "FROM documents, range(4) t(w) "
        f"WHERE doc_id % 4 = {mod} AND text IS NOT NULL)) "
    )


def _mp4j_values_sql() -> str:
    """(variant, frame, flat value, frozen byte size) rows of the
    Motion-JPEG-in-MP4 fixture as a VALUES list — the byte sizes come
    from the plan-time encode (the frozen-model pattern: the ENGINE
    re-derives them from the container's stsz walk)."""
    sizes = _mp4_fixture_blobs()[1]
    return ", ".join(
        f"({v}, {f}, {8 * (4 + 3 * f + 5 * v)}, {sizes[v][f]})"
        for v in range(2)
        for f in range(2 + v)
    )


def _pack_leg_sql(leg: str, order_by: str) -> str:
    """One leg of the seq_pack twin: the full pack_chunks → pack_sequences
    → pack_stats replica with the in-shard stream laid out in the given
    ``order_by`` — ``doc_id`` for the default leg, the md5 order key (+
    doc_id tie-break) for the shuffled leg. Everything else (shard hash,
    window framing, slicing, assembly order) is shared verbatim, so the
    two legs differ ONLY where the engine's order flag differs."""
    return (
        f"WITH d AS (SELECT doc_id, "
        f"CAST(len({_WS_SQL}) AS BIGINT) AS n_tokens, "
        "CAST(floor(CAST("
        + hex_to_bigint_sql(
            "md5(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' || "
            "CAST(doc_id AS VARCHAR) || ';pack:0')", 1)
        + " AS DOUBLE) / 4503599627370496e0 * 8e0) AS INT) AS shard "
        "FROM documents), "
        "laid AS (SELECT shard, doc_id, n_tokens, "
        f"CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY {order_by} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e "
        "FROM d WHERE shard IS NOT NULL AND n_tokens > 0), "
        "ex AS (SELECT shard, doc_id, n_tokens, e - n_tokens AS s, e, "
        "unnest(generate_series((e - n_tokens) // 64, (e - 1) // 64)) AS seq_id "
        "FROM laid), "
        "mani AS (SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id, "
        "n_tokens, "
        "CAST(greatest(s, seq_id * 64) - s AS BIGINT) AS slice_start, "
        "CAST(least(e, (seq_id + 1) * 64) - greatest(s, seq_id * 64) AS BIGINT) "
        "AS slice_len, "
        "CAST(greatest(s, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_offset "
        "FROM ex), "
        # pack_sequences twin: slice each doc's token array, reassemble
        # per (shard, seq_id) in seq_offset order, hash the stream
        "sl AS (SELECT m.shard, m.seq_id, m.seq_offset, "
        "t.toks[m.slice_start + 1 : m.slice_start + m.slice_len] AS sl "
        f"FROM mani m JOIN (SELECT doc_id, {_WS_SQL} AS toks "
        "FROM documents) t ON t.doc_id = m.doc_id), "
        "seqs AS (SELECT shard, seq_id, md5(array_to_string("
        "flatten(list(sl ORDER BY seq_offset)), ' ')) AS seq_md5 "
        "FROM sl GROUP BY shard, seq_id), "
        "pstat AS (SELECT shard, seq_id, "
        "CAST(sum(slice_len) AS BIGINT) AS filled_tokens, "
        "CAST(sum(slice_len) AS DOUBLE) / 64 AS fill_ratio "
        "FROM mani GROUP BY shard, seq_id) "
        f"SELECT '{leg}' AS leg, m.*, q.seq_md5, p.filled_tokens, p.fill_ratio "
        "FROM mani m LEFT JOIN seqs q "
        "ON q.shard = m.shard AND q.seq_id = m.seq_id "
        "LEFT JOIN pstat p ON p.shard = m.shard AND p.seq_id = m.seq_id"
    )


def _pq_oracle_sql() -> str:
    """DuckDB twin of pq_encode + pq_topk under _PQ_MODEL: per-subspace
    squared distances to each literal codeword as lateral aliases, a
    first-of-minima CASE per subspace (numpy argmin's tie-break), and
    the asymmetric-distance table — Σ over the query's squared distance
    to the CHOSEN codeword — precomputed here as literals, exactly as
    pq_topk builds it driver-side. Top-10 by (dist, vec_id). Reads the
    ann_topk oracle's ``finite`` CTE (pq_encode NULLs non-finite
    vectors, so they never compete)."""
    q = [float(v) for v in _QVEC]
    books = _PQ_MODEL["codebooks"]
    m, sub, codes = _PQ_MODEL["m"], _PQ_MODEL["sub_dim"], _PQ_MODEL["codes"]
    aliases, dist_terms = [], []
    for s in range(m):
        tbl = []
        for c in range(codes):
            terms = " + ".join(
                f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
                f"{fsql(books[s][c][i])}) * "
                f"(CAST(embedding[{s * sub + i + 1}] AS DOUBLE) - "
                f"{fsql(books[s][c][i])})"
                for i in range(sub)
            )
            aliases.append(f"({terms}) AS d{s}_{c}")
            tbl.append(fsql(sum(
                (q[s * sub + i] - books[s][c][i]) ** 2 for i in range(sub)
            )))
        d = [f"d{s}_{c}" for c in range(codes)]
        dist_terms.append(
            f"(CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} "
            f"AND {d[0]} <= {d[3]} THEN {tbl[0]} "
            f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN {tbl[1]} "
            f"WHEN {d[2]} <= {d[3]} THEN {tbl[2]} ELSE {tbl[3]} END)"
        )
    return (
        "SELECT 'pq_adc' AS path, vec_id, round(dist, 6) AS score FROM "
        f"(SELECT vec_id, {', '.join(aliases)}, "
        f"{' + '.join(dist_terms)} AS dist FROM finite "
        "ORDER BY dist ASC, vec_id ASC LIMIT 10)"
    )


def _pca_proj_sql(comp: int) -> str:
    """One component of the literal-model PCA projection as a
    left-associated f64 chain, quantized through FLOAT — the same f32
    grid pca_apply's array<float> output lands on."""
    chain = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - {fsql(mi)}) * {fsql(ci)}"
        for i, (mi, ci) in enumerate(
            zip(_PCA_MODEL["mean"], _PCA_MODEL["components"][comp]),
        )
    )
    return f"CAST(CAST(({chain}) AS FLOAT) AS DOUBLE)"


def _clf_z_sql() -> str:
    """The literal classifier's logit as SQL over the quality oracle's
    lateral aliases — same feature order and left-associated accumulation
    as quality_classifier_apply, constants straight from _CLF_MODEL."""
    feats = ["ln(1 + n_chars)", "ln(1 + n_ws)", "mtl", "punct", "stop", "uniq"]
    return fsql(_CLF_MODEL["bias"]) + "".join(
        f" + coalesce(({e} - {fsql(m)}) / {fsql(s)}, 0.0) * {fsql(w)}"
        for e, m, s, w in zip(
            feats, _CLF_MODEL["mean"], _CLF_MODEL["std"],
            _CLF_MODEL["weights"],
        )
    )


def _clf_n_train_sql() -> str:
    """n_train twin of the query-time quality_classifier_fit: distinct
    usable feature vectors per class, summed. Counted over the RAW
    integer stat tuple — the feature map (log1p, log1p, and four
    fixed-denominator ratios) is injective in it at corpus magnitudes,
    so the distinct counts are equal; usable = non-NULL stats, i.e.
    non-NULL text with at least one whitespace token. The fit's 50k
    per-class cap never binds at gate scale."""
    raw = (
        f"SELECT DISTINCT length(text), len({_WS_SQL}), "
        f"length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')), "
        f"len(regexp_extract_all(text, '[^A-Za-z0-9_" + _WS_CLASS[1:-1] + "]')), "
        f"len(list_filter(list_transform({_WS_SQL}, x -> lower(x)), "
        f"x -> x IN ({_STOP_SQL['en']}))), "
        f"len(list_distinct({_WS_SQL})) "
        f"FROM documents WHERE text IS NOT NULL AND len({_WS_SQL}) > 0"
    )
    return (
        f"(SELECT count(*) FROM ({raw} AND doc_id % 2 = 0)) + "
        f"(SELECT count(*) FROM ({raw} AND doc_id % 2 = 1))"
    )


def _c4_oracle_sql() -> str:
    """DuckDB replica of c4_line_filter over the doc_hashes twin
    construction: same line predicates (terminal punctuation, >= 5
    whitespace words, no boilerplate phrase), same doc rules (>= 3
    surviving lines, no curly brace, no lorem ipsum), same NULL posture
    (NULL text -> NULL md5, keep false)."""
    from sed_binning_spark.pipeline.text import (
        C4_BAD_DOC_PHRASES,
        C4_BAD_LINE_PHRASES,
    )

    c4t = (
        f"text || {_sql_str(_C4_FIXED)} || substr(md5(text), 1, 8) || "
        f"{_sql_str(_C4_TAIL)} || "
        f"CASE WHEN doc_id % 2 = 0 THEN {_sql_str(_C4_EVEN)} ELSE '' END || "
        f"CASE WHEN doc_id % 7 = 0 THEN {_sql_str(_C4_BRACE)} ELSE '' END || "
        f"CASE WHEN doc_id % 11 = 0 THEN {_sql_str(_C4_LOREM)} ELSE '' END"
    )
    line_phrases = " AND ".join(
        f"NOT contains(lower(trim(l)), {_sql_str(p.lower())})"
        for p in C4_BAD_LINE_PHRASES
    )
    doc_phrases = " AND ".join(
        f"NOT contains(lower(c4t), {_sql_str(p.lower())})"
        for p in C4_BAD_DOC_PHRASES
    )
    kept = (
        "list_filter(str_split(c4t, chr(10)), l -> "
        "regexp_matches(trim(l), '[.!?\"]$') "
        f"AND len(list_filter(regexp_split_to_array(trim(l), "
        f"'{_WS_CLASS}+'), x -> x != '')) >= 5 AND {line_phrases})"
    )
    return (
        "SELECT doc_id, CASE WHEN c4t IS NULL THEN NULL "
        "ELSE md5(coalesce(array_to_string(kept, chr(10)), '')) END AS c4_md5, "
        "CASE WHEN c4t IS NULL THEN false ELSE len(kept) >= 3 "
        f"AND NOT contains(c4t, '{{') AND {doc_phrases} END AS c4_keep "
        f"FROM (SELECT doc_id, c4t, {kept} AS kept FROM "
        f"(SELECT doc_id, {c4t} AS c4t FROM documents))"
    )


def _multimodal_oracle_sql(width: int = 4, height: int = 2) -> str:
    """DuckDB twin of the REAL multimodal decode path: regenerate the
    pixel samples (md5 digest of the text, cycled to width*height*3 —
    exactly what the PPM/PNG/GIF synthesizers encode), recompute the
    codec's feature vector [kind=1, w, h, 3, mean, std, min, max] with the
    same operation order as pipeline.multimodal._norm_stats (mean = sum/n
    then /255; std = sqrt(ssd/n) then /255), quantize each element through
    float32 (the engine's ArrayType(FloatType()) Arrow cast == CAST AS
    REAL), and serialize ×1e6-rounded integers. NULL text is a NULL
    payload: the engine featurizes b'' to all-zero byte stats."""
    n = width * height * 3
    header_len = len(b"P6\n%d %d\n255\n" % (width, height))
    bs = (
        f"list_transform(range(0, {n}), i -> CAST('0x' || "
        f"substr(md5(text), CAST((i % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT))"
    )

    def q(expr: str) -> str:
        # float32 quantization, then the ×1e6 integer grid, as VARCHAR
        return (
            f"CAST(CAST(round(CAST(CAST({expr} AS REAL) AS DOUBLE) "
            f"* 1000000.0, 0) AS BIGINT) AS VARCHAR)"
        )

    head = ",".join(str(v * 1000000) for v in (1, width, height, 3))
    # the GIF leg is an n-wide 1-tall grayscale strip: each sample
    # triplicates through the (v,v,v) palette, which leaves the
    # normalized mean/std/min/max of the value distribution identical —
    # only the reported dims change
    gif_head = ",".join(str(v * 1000000) for v in (1, n, 1, 3))
    ssd = "list_sum(list_transform(bs, x -> (x - m) * (x - m)))"
    head_case = (
        f"CASE WHEN media_id % 4 = 2 THEN '{gif_head},' ELSE '{head},' END"
    )
    feat = (
        f"{head_case} || {q('m / 255.0')} || ',' || {q(f'sqrt({ssd} / {n}.0) / 255.0')} "
        f"|| ',' || {q('CAST(list_min(bs) AS DOUBLE) / 255.0')} "
        f"|| ',' || {q('CAST(list_max(bs) AS DOUBLE) / 255.0')}"
    )
    zeros = ",".join(["0"] * 8)
    # container by id class (the Spark side unions PPM for ids % 4 == 0,
    # GIF89a for ids % 4 == 2, sequential PNG for ids % 4 == 1,
    # Adam7-interlaced PNG for ids % 4 == 3): features are
    # raster-determined and identical up to the GIF dims; only
    # the byte count depends on the wrapper, all four closed-form
    n_bytes = (
        f"CASE WHEN bs IS NULL THEN 0 "
        f"WHEN media_id % 4 = 0 THEN {header_len + n} "
        f"WHEN media_id % 4 = 2 THEN {gif_fixture_n_bytes(width, height)} "
        f"WHEN media_id % 4 = 1 THEN {png_fixture_n_bytes(width, height)} "
        f"ELSE {png_fixture_n_bytes(width, height, interlace=True)} END"
    )
    # the 12-bit JPEG rows (media_id = -doc_id-1): flat spec-built
    # fixtures decode bit-exactly, so n_bytes and the full feature
    # vector are frozen literals keyed only on doc_id parity
    _, j12_feats, j12_sizes = _jpeg12_fixture()
    return (
        f"SELECT media_id, "
        f"CAST({n_bytes} AS BIGINT) AS n_bytes, "
        f"CASE WHEN bs IS NULL THEN '{zeros}' ELSE {feat} END AS feat_csv FROM "
        f"(SELECT media_id, bs, list_sum(bs) / {n}.0 AS m FROM "
        f"(SELECT CAST(doc_id AS BIGINT) AS media_id, "
        f"CASE WHEN text IS NULL THEN NULL ELSE {bs} END AS bs FROM documents)) "
        f"UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(CASE WHEN doc_id % 2 = 0 THEN {j12_sizes[0]} "
        f"ELSE {j12_sizes[1]} END AS BIGINT), "
        f"CASE WHEN doc_id % 2 = 0 THEN '{j12_feats[0]}' "
        f"ELSE '{j12_feats[1]}' END "
        f"FROM documents WHERE doc_id % 5 = 0"
        # WebP rows (round 14, media_id = -doc_id-1 on the disjoint
        # % 5 = 1 subset): the engine parses real VP8/VP8L/VP8X
        # headers; dims + byte stats frozen at plan time
        + _webp_oracle_sql()
        # media-tag rows (round 14, % 5 = 2 subset): one row per
        # embedded tag, the expected pairs declared from the ENCODER
        # INPUTS in _tags_fixture — the engine must really walk the
        # ID3/Vorbis/ilst/INFO structures to match
        + _tags_oracle_sql()
        # subtitle-cue rows (round 14, % 5 = 3 subset): the engine
        # parses expression-built SubRip/WebVTT/ASS; every cue fact
        # is symbolic in doc_id + md5(text)
        + _subtitles_oracle_sql()
        # media-manifest triage rows (round 14, % 5 = 4 subset):
        # declared closed-form facts vs the real header/table walks
        + _manifest_oracle_sql()
        # perceptual-hash rows (round 14, % 5 = 4 subset, -2e9 space):
        # the 4×2 fixture dHash replayed symbolically from md5(text)
        + _dhash_oracle_sql()
    )


def _webp_oracle_sql() -> str:
    _, wp_feats, wp_sizes = _webp_fixture()
    return (
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(CASE doc_id % 3 WHEN 0 THEN {wp_sizes[0]} "
        f"WHEN 1 THEN {wp_sizes[1]} ELSE {wp_sizes[2]} END AS BIGINT), "
        f"CASE doc_id % 3 WHEN 0 THEN '{wp_feats[0]}' "
        f"WHEN 1 THEN '{wp_feats[1]}' ELSE '{wp_feats[2]}' END "
        f"FROM documents WHERE doc_id % 5 = 1"
    )


def _tags_oracle_sql() -> str:
    """One VALUES row per (variant, expected tag): the tag pairs the
    fixtures were BUILT from (not parser output), joined onto the
    doc_id % 5 = 2 subset by the doc_id % 40 variant key. n_bytes is
    the UTF-8 octet length of the value (Spark octet_length twin);
    feat_csv is container:key=value."""
    _, expected = _tags_fixture()
    rows = []
    for m, tag_rows in zip(_TAG_VARIANT_KEYS, expected):
        for container, key, value in tag_rows:
            fc = f"{container}:{key}={value}".replace("'", "''")
            rows.append(f"({m}, {len(value.encode('utf-8'))}, '{fc}')")
    values = ", ".join(rows)
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {values}) AS t(m, nb, fc) "
        f"ON d.doc_id % 80 = t.m WHERE d.doc_id % 5 = 2"
    )


_MANIFEST_FIXTURES = None


def _manifest_fixture():
    """Plan-time triage fixtures for the media_manifest leg: four
    payloads whose manifest facts are closed-form in their
    construction — a tagged WAV (160 samples at 8 kHz → 20 ms, one
    INFO tag), a 3-frame ID3-tagged MP3 (3 × 36 ms at 32 kHz), an
    8×6 2-frame avc1 MP4 (2 × 40 ms), and a two-cue SubRip document.
    Returns (blobs, expected_feats) keyed by doc_id % 20 ∈ {4, 9, 14,
    19}; each feat is the manifest row serialized as
    ``man:container|mime|width|height|duration|rate|channels|tags|cues``
    with NULLs as empty fields."""
    global _MANIFEST_FIXTURES
    if _MANIFEST_FIXTURES is None:
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.mp4 import encode_mp4_mjpeg
        from sed_binning_spark.pipeline.multimodal import encode_audio_wav
        from sed_binning_spark.pipeline.subtitles import encode_srt
        from sed_binning_spark.pipeline.tags import (
            add_riff_info,
            encode_id3v2,
        )

        blobs = [
            add_riff_info(
                encode_audio_wav(np.zeros((160, 1), np.int16), 8000),
                [(b"INAM", "Triage Wav")],
            ),
            encode_id3v2([("TIT2", "Triage Mp3")], version=3)
            + encode_mp3_frames(3),
            encode_mp4_mjpeg(
                [b"\xff\xd8x", b"\xff\xd8y"], delays_ms=[40, 40],
                width=8, height=6, sample_type=b"avc1",
            ),
            encode_srt([(0, 1000, "cue a"), (1500, 2500, "cue b")]),
        ]
        feats = [
            "man:wav|audio/wav|||20|8000|1|1|0",
            "man:mp3|audio/mpeg|||108|32000|1|1|0",
            "man:mp4|video/mp4|8|6|80|||0|0",
            "man:srt|application/x-subrip|||2500|||0|2",
        ]
        _MANIFEST_FIXTURES = (blobs, feats)
    return _MANIFEST_FIXTURES


_MP4_SUBS_FIXTURES = None


def _mp4_subs_fixture():
    """Plan-time MUXED-subtitle fixtures, keyed by doc_id % 40 on the
    % 5 == 3 subset: WebVTT-in-MP4 (wvtt) and 3GPP (tx3g) tracks with
    the SAME two cues and a leading gap sample the walk must time over
    without emitting; a chaptered podcast (ID3v2 CHAP frames on an
    MPEG stream — chapter titles ARE timed text); and a Matroska
    S_TEXT/UTF8 subtitle track. Expected rows are declared from the
    fixture cues (the builders and parsers are inverse
    implementations). Returns a list of (key, blob, fmt, cues)."""
    global _MP4_SUBS_FIXTURES
    if _MP4_SUBS_FIXTURES is None:
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.subtitles import (
            encode_matroska_subtitles,
            encode_mp4_subtitles,
        )
        from sed_binning_spark.pipeline.tags import encode_id3v2_chapters

        from sed_binning_spark.pipeline.subtitles import (
            add_matroska_chapters,
        )
        from sed_binning_spark.pipeline.webm import encode_webm

        cues = [(250, 2000, "muxed cue öne"), (2750, 4500, "muxed two")]
        chaps = [(0, 30000, "Intro"), (30000, 95000, "Chapter Two")]
        # keys on doc_id % 40 over the % 5 == 3 subset
        _MP4_SUBS_FIXTURES = [
            (3, encode_mp4_subtitles(cues, sample_type=b"wvtt"),
             "mp4", cues),
            (8, encode_mp4_subtitles(cues, sample_type=b"tx3g"),
             "mp4", cues),
            (13, encode_id3v2_chapters(chaps, version=3)
             + encode_mp3_frames(2), "id3", chaps),
            (18, encode_matroska_subtitles(cues), "mkv", cues),
            (23, add_matroska_chapters(
                encode_webm([b"a" * 4], [0], track_type=2,
                            codec_id="A_OPUS"),
                chaps,
            ), "mkv-chapters", chaps),
        ]
    return _MP4_SUBS_FIXTURES


def _subtitles_oracle_sql() -> str:
    """DuckDB twin of the subtitle-cue leg: regenerate both cues'
    timing from the synthesizer's closed forms (start1 = (id%10)·500,
    end1 = start1 + 2000 + (id%3)·250, start2 = end1 + 500, end2 =
    start2 + 1750) and the cue text from the same md5 halves; the
    format cycles srt/vtt/ass on id % 3. n_bytes = octet length of
    the 16-hex-char cue text = 16."""
    base = (
        "SELECT doc_id, text, "
        "CASE doc_id % 3 WHEN 0 THEN 'srt' WHEN 1 THEN 'vtt' "
        "ELSE 'ass' END AS fmt, "
        "(doc_id % 10) * 500 AS s1, "
        "(doc_id % 10) * 500 + 2000 + (doc_id % 3) * 250 AS e1 "
        "FROM documents WHERE doc_id % 5 = 3 AND text IS NOT NULL"
    )
    return (
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(16 AS BIGINT), "
        f"fmt || ':1@' || CAST(s1 AS VARCHAR) || '-' || "
        f"CAST(e1 AS VARCHAR) || '=' || substr(md5(text), 1, 16) "
        f"FROM ({base})"
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(16 AS BIGINT), "
        f"fmt || ':2@' || CAST(e1 + 500 AS VARCHAR) || '-' || "
        f"CAST(e1 + 2250 AS VARCHAR) || '=' || substr(md5(text), 17, 16) "
        f"FROM ({base})"
        + _mp4_subs_oracle_sql()
    )


def _dhash_oracle_sql() -> str:
    """DuckDB twin of the dHash leg: the 4×2 md5-pixel raster samples
    to rows [0,0,0,0,1,1,1,1] × cols [0,0,0,1,1,2,2,3,3], so only six
    gradient comparisons can be nonzero — pixels (0<1, 1<2, 2<3) on
    each of the two source rows — each worth a closed-form sum of bit
    weights (four identical top rows / four bottom rows of the 8×8 bit
    grid). Grayscale is (r+g+b)//3 of the cycled digest bytes; the
    resulting sum stays under 2^62, so plain BIGINT arithmetic is
    exact and the sign bit never sets. n_bytes carries bit_count(h),
    computed independently by each engine."""
    def byte(i: int) -> str:
        return (f"CAST('0x' || substr(md5(text), {(i % 16) * 2 + 1}, 2)"
                f" AS BIGINT)")

    gs = ", ".join(
        f"({byte(3 * p)} + {byte(3 * p + 1)} + {byte(3 * p + 2)}) // 3"
        for p in range(8)
    )
    comparisons = [
        ((0, 1), (61, 53, 45, 37)), ((1, 2), (59, 51, 43, 35)),
        ((2, 3), (57, 49, 41, 33)), ((4, 5), (29, 21, 13, 5)),
        ((5, 6), (27, 19, 11, 3)), ((6, 7), (25, 17, 9, 1)),
    ]
    terms = " + ".join(
        f"(CASE WHEN g[{a + 1}] < g[{b + 1}] "
        f"THEN {sum(1 << k for k in bits)} ELSE 0 END)"
        for (a, b), bits in comparisons
    )
    return (
        f" UNION ALL SELECT CAST(-doc_id - 2000000000 AS BIGINT), "
        f"CAST(bit_count(h) AS BIGINT), 'dh:' || CAST(h AS VARCHAR) "
        f"FROM (SELECT doc_id, {terms} AS h FROM "
        f"(SELECT doc_id, [{gs}] AS g FROM documents "
        f"WHERE doc_id % 5 = 4 AND text IS NOT NULL))"
    )


def _manifest_oracle_sql() -> str:
    """The triage rows: declared facts + real payload byte counts per
    doc_id % 20 variant on the % 5 = 4 subset."""
    blobs, feats = _manifest_fixture()
    rows = ", ".join(
        f"({m}, {len(b)}, '{f}')"
        for m, b, f in zip([4, 9, 14, 19], blobs, feats)
    )
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {rows}) AS t(m, nb, fc) "
        f"ON d.doc_id % 20 = t.m WHERE d.doc_id % 5 = 4"
    )


def _mp4_subs_oracle_sql() -> str:
    """The muxed-subtitle rows: per-variant expected cue literals,
    joined by the doc_id % 40 variant key."""
    rows = []
    for key, _blob, fmt, cues in _mp4_subs_fixture():
        for i, (s, e, t) in enumerate(cues):
            fc = f"{fmt}:{i + 1}@{s}-{e}={t}".replace("'", "''")
            rows.append(
                f"({key}, {len(t.encode('utf-8'))}, '{fc}')",
            )
    values = ", ".join(rows)
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1000000000 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {values}) AS t(m, nb, fc) "
        f"ON d.doc_id % 40 = t.m WHERE d.doc_id % 5 = 3"
    )


def _simhash_oracle_sql(bits: int = 16) -> str:
    """DuckDB twin of pipeline.dedup.simhash: same tokenization, same
    md5-hex-prefix 32-bit token hash, same ±1 per-bit votes (vote > 0 →
    '1'), MSB-first bit string."""
    terms = [
        f"(CASE WHEN 2 * len(list_filter(th, h -> ((h >> {b}) & 1) = 1)) - len(th) > 0 "
        f"THEN '1' ELSE '0' END)"
        for b in range(bits - 1, -1, -1)
    ]
    # NULL text propagates to a NULL simhash in the engine, and so does
    # whitespace-only text (len(th) = 0 — the engine's _has_content guard):
    # without either branch the per-bit CASEs would each fall to ELSE '0'
    # and fabricate one shared all-zeros signature for every no-content
    # document, the degenerate mega-bucket block-equality joins must never
    # see
    return (
        f"SELECT doc_id, CASE WHEN th IS NULL OR len(th) = 0 THEN NULL "
        f"ELSE {' || '.join(terms)} END AS simhash FROM ("
        f"SELECT doc_id, list_transform({_TOKS_SQL}, "
        f"t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th FROM documents)"
    )


# Deterministic PII-laden twin text (SQL side of _q_quality's synthesis):
# the corpus itself contains no URLs/emails/IPs/phones.
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com via http://ex.com/' || CAST(doc_id AS VARCHAR) || "
    "' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "' tel +1 555-010-9876' || chr(10) || 'repeat line' || chr(10) || "
    "'repeat line'"
)


def _strip_html_sql(expr: str) -> str:
    """DuckDB twin of pipeline.text.strip_html: the SAME pattern/entity
    chain (Java-regex ∩ RE2 dialect) applied to a SQL expression."""
    from sed_binning_spark.pipeline.text import HTML_ENTITIES, HTML_STRIP_PATTERNS

    for p, repl in HTML_STRIP_PATTERNS:
        sql_repl = repl.replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{p}', '{sql_repl}', 'g')"
    for ent, ch in HTML_ENTITIES:
        sql_ch = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{sql_ch}')"
    expr = f"regexp_replace({expr}, '\r\n?', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '[ \t\x0B\f]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\n ?', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '\n{{3,}}', chr(10) || chr(10), 'g')"
    expr = f"regexp_replace({expr}, '^[ \t\x0B\f\r\n]+|[ \t\x0B\f\r\n]+$', '', 'g')"
    return expr


def _pii_audit_sql() -> str:
    """Columns of the PII audit twin (over ``pii_text`` from the inner
    SELECT): span counts per PII_PATTERNS on the raw text, the Gopher
    duplicate-line ratio, and md5 of the scrub chain applied in the same
    fixed pattern order as pipeline.text.scrub_pii. The patterns are the
    PII_PATTERNS literals themselves — written in the Java-regex/RE2
    common dialect precisely so one string drives both engines."""
    counts = ", ".join(
        f"len(regexp_extract_all(pii_text, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    lines = "list_filter(string_split(pii_text, chr(10)), x -> regexp_replace(x, '[ \t\x0B\f\r]', '', 'g') != '')"
    dup = (
        f"CASE WHEN pii_text IS NULL THEN NULL "
        f"WHEN len({lines}) >= 2 THEN 1.0e0 - "
        f"len(list_distinct({lines})) / CAST(len({lines}) AS DOUBLE) "
        f"ELSE 0.0e0 END AS dup_line_ratio"
    )
    # dup_segment_stats twins: repeat-occurrence count / chars over the
    # per-line group-by, (count-1) convention, char frac capped at length
    dupn = (
        f"(SELECT coalesce(sum(cnt - 1), 0) FROM (SELECT s, count(*) AS cnt "
        f"FROM unnest({lines}) AS t(s) GROUP BY s) WHERE cnt > 1)"
    )
    dupc = (
        f"(SELECT coalesce(sum((cnt - 1) * length(s)), 0) FROM (SELECT s, "
        f"count(*) AS cnt FROM unnest({lines}) AS t(s) GROUP BY s) WHERE cnt > 1)"
    )
    dup_frac = (
        f"CASE WHEN pii_text IS NULL THEN NULL WHEN len({lines}) < 2 THEN 0.0e0 "
        f"ELSE round(CAST({dupn} AS DOUBLE) / len({lines}), 6) END AS dup_line_frac"
    )
    dup_char = (
        f"CASE WHEN pii_text IS NULL THEN NULL "
        f"WHEN len({lines}) < 2 OR length(pii_text) = 0 THEN 0.0e0 "
        f"ELSE round(least(CAST({dupc} AS DOUBLE), length(pii_text)) "
        f"/ length(pii_text), 6) END AS dup_line_char_frac"
    )
    # badword_stats twin over the dedup-family (lowercased) tokenizer
    ptoks = _toks_sql("pii_text")
    badw = (
        f"CASE WHEN pii_text IS NULL THEN NULL ELSE CAST(len(list_filter("
        f"{ptoks}, t -> t IN ('repeat', 'contact'))) AS BIGINT) "
        f"END AS n_badword_tokens"
    )
    scrub = "pii_text"
    for k, p in PII_PATTERNS.items():
        scrub = f"regexp_replace({scrub}, '{p}', '<{k.upper()}>', 'g')"
    return (
        f"{counts}, {dup}, {dup_frac}, {dup_char}, {badw}, "
        f"md5({scrub}) AS scrub_md5"
    )


def _lsh_pairs_oracle_sql(
    threshold: float = 0.45,
    num_planes: int = 4,
    num_tables: int = 12,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB twin of lsh_bucket_pairs (pipeline/similarity.py): regenerate
    the seeded hyperplanes with the identical numpy generator call and
    inline them as double literals, then replicate the pipeline exactly —
    sign-bit bucket per table, distinct within-bucket candidate pairs
    (id_a < id_b), exact-cosine verification above the threshold.

    Engine-parity notes, all verified by the dirty-embeddings suite:

    - Vectors of at least ``dim`` elements sketch on their first ``dim``
      (the package-wide longer-than-dim contract); shorter rows are
      dropped. ``len(embedding) >= dim`` is the SQL equivalent, and the
      bucket dots below read ``embedding[1..dim]`` like every other twin.
    - The sketch dots are BLAS (pairwise summation) in Spark and a
      left-associated chain here, so a dot within ~1 ulp of 0 could bucket
      differently — but a bucket flip only perturbs CANDIDATES, and the
      output is the cosine-VERIFIED subset, which both engines compute
      bit-identically (same fold order as _pair_cos_sql).
    - NaN-element vectors: numpy ``NaN >= 0`` is False (bucket 0), DuckDB
      NaN sorts above everything (bucket 2^P-1). Their candidates differ,
      but every pair touching a NaN vector has NaN cosine and dies at the
      verify, so the verified sets agree.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables, num_planes, dim))
    weights = [1 << (num_planes - 1 - p) for p in range(num_planes)]
    selects = []
    for t in range(num_tables):
        bits = []
        for p in range(num_planes):
            dot = " + ".join(
                f"CAST(embedding[{i + 1}] AS DOUBLE) * {fsql(planes[t, p, i])}"
                for i in range(dim)
            )
            bits.append(f"CASE WHEN ({dot}) >= 0 THEN {weights[p]} ELSE 0 END")
        selects.append(
            f"SELECT vec_id, {t} AS tbl, {' + '.join(bits)} AS bucket FROM emb"
        )
    keys = " UNION ALL ".join(selects)
    return (
        f"WITH emb AS (SELECT vec_id, embedding FROM embeddings "
        f"WHERE embedding IS NOT NULL AND len(embedding) >= {dim}), "
        f"keys AS ({keys}), "
        f"cand AS (SELECT DISTINCT ka.vec_id AS id_a, kb.vec_id AS id_b "
        f"FROM keys ka JOIN keys kb ON ka.tbl = kb.tbl "
        f"AND ka.bucket = kb.bucket AND ka.vec_id < kb.vec_id) "
        f"SELECT c.id_a, c.id_b FROM cand c "
        f"JOIN embeddings a ON a.vec_id = c.id_a "
        f"JOIN embeddings b ON b.vec_id = c.id_b "
        f"WHERE NOT isnan({_pair_cos_sql()}) "
        f"AND ({_pair_cos_sql()}) > {fsql(threshold)}"
    )


def _pair_cos_sql() -> str:
    """Pairwise cosine for the brute-force oracle (explicit 64-term form)."""
    dot = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    na = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(a.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    nb = " + ".join(
        f"CAST(b.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"
