"""Scans and SQL shared by more than one query family.

Events-derived sed-style coordinates (identical derivation in both
engines; the Spark side in :func:`_events_build`, the DuckDB side in
``_EV_SQL``):
    X      = (value * 131.0) % 2048.0
    Y      = (value * 17.0 + user_id) % 2048.0
    t      = 60000.0 + value * 120.0         (TOF steps)
    ADC    = 2000.0 + user_id * 119.9
    ts_sec = µs / 1e6
    file_id = user_id % 4, row_id = event_id
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
# py4j handles or the sessions they pin. One lock covers the lookup, the
# prune, the build and the insert: two unlocked misses on one scan would
# both list the same stale key and the second delete would raise KeyError.
_SCAN_MEMO: dict = {}

_SCAN_MEMO_LOCK = threading.Lock()


def _scan_memo(spark: SparkSession, key: tuple, path: str, build):
    app = spark.sparkContext.applicationId
    try:
        st = os.stat(path)
        fresh = (st.st_size, st.st_mtime_ns)
    except OSError:
        fresh = None
    full = (app, id(spark), *key, fresh)
    with _SCAN_MEMO_LOCK:
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
