"""Loader-layer queries: flash pulse/electron frames, channel joins and aux
slices, mpes ms-marker timestamps and the timed frame, sxp train demux,
bitwise channel splits and the storage round-trips."""

from __future__ import annotations

import os
import tempfile

import numpy as np
from pyspark.sql import functions as F

from queries import query
from queries._common import _EV_SQL, _events
from sed_binning_spark.loaders.flash import explode_per_electron, split_electron_pulse_frames
from sed_binning_spark.loaders.utils import split_channel_bitwise
from sed_binning_spark.sqlgen import fsql


@query("flash_pulse_frame", oracle=lambda: (
    f"SELECT user_id % 20 AS trainId, "
    f"row_number() OVER (PARTITION BY user_id % 20 ORDER BY event_id) - 1 "
    f"AS pulseId, event_id AS eid, value AS val FROM ({_EV_SQL})"
))
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


@query("aux_combine", oracle=lambda: (
    f"SELECT trainId, aux[1] AS bias, aux[3] AS gain, aux[600001] AS probe "
    f"FROM (SELECT user_id % 20 AS trainId, "
    f"list(value ORDER BY event_id) AS aux FROM ({_EV_SQL}) GROUP BY 1)"
))
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


@query("channel_join", oracle=lambda: (
    f"SELECT e.trainId, e.pulseId, e.electronId, e.eid, e.val, t.bias FROM "
    f"(SELECT user_id % 20 AS trainId, event_id % 7 AS pulseId, "
    f"row_number() OVER (PARTITION BY user_id % 20, event_id % 7 "
    f"ORDER BY event_id) - 1 AS electronId, "
    f"event_id AS eid, value AS val FROM ({_EV_SQL})) e "
    f"JOIN (SELECT user_id % 20 AS trainId, round(avg(value), 6) AS bias "
    f"FROM ({_EV_SQL}) GROUP BY user_id % 20) t ON t.trainId = e.trainId"
))
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


# explicit isnan + bounded range, mirroring the Spark query (NaN
# must not rely on DuckDB's inconsistent vectorized comparisons)
@query("bitwise_split", oracle=lambda: (
    f"SELECT event_id, CAST(ti % 8 AS TINYINT) AS lo, "
    f"CAST(ti >> 3 AS INTEGER) AS hi FROM "
    f"(SELECT event_id, CASE WHEN NOT isnan(CAST(value AS DOUBLE)) "
    f"AND value BETWEEN -1e7 AND 1e7 "
    f"THEN CAST(floor(value * 100.0) AS BIGINT) END AS ti "
    f"FROM ({_EV_SQL}))"
))
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


# mpes ms-marker fixture: monotone with one duplicate (the reference
# documents duplicates in msMarkers); spans the sf0.01 row_id range
_MS_MARKERS = np.array(sorted([13 + 137 * i for i in range(64)] + [13 + 137 * 4]))
_MPES_START = 1.65e9


# runs_ok pins the S3 run-ID resolver (pattern glob + natural
# sort + recursion + decoy rejection + missing-run raise)
@query("mpes_timestamps", oracle=lambda: (
    f"SELECT event_id, {fsql(_MPES_START)} + len(list_filter("
    f"[{', '.join(str(int(m)) for m in _MS_MARKERS)}], m -> m <= row_id)) "
    f"/ 1000.0 AS timeStamps, TRUE AS runs_ok FROM ({_EV_SQL})"
))
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
    try:
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
    finally:
        shutil.rmtree(d, ignore_errors=True)

    ev = append_event_timestamps(_events(spark, sf), _MS_MARKERS, _MPES_START)
    return ev.select("event_id", "timeStamps", F.lit(bool(ok)).alias("runs_ok"))


@query("mpes_timed", oracle=lambda: (
    f"SELECT CAST(m.i AS BIGINT) AS ms_id, e.value, e.X, "
    f"{fsql(_MPES_START)} + CAST(m.i AS DOUBLE) / 1000.0 AS timeStamps "
    f"FROM (VALUES "
    + ", ".join(f"({i}, {int(m) - 1})" for i, m in enumerate(_MS_MARKERS))
    + f") AS m(i, target) JOIN ({_EV_SQL}) e ON e.row_id = m.target"
))
def _q_mpes_timed(spark, sf):
    """S5 timed dataframe: sample stream values at each ms marker via a
    broadcast (i, marker-1) equi-join on row_id."""
    from sed_binning_spark.loaders.mpes import timed_dataframe_from_markers

    out = timed_dataframe_from_markers(
        _events(spark, sf), _MS_MARKERS, start_time=_MPES_START,
        time_stamps=True, columns=["value", "X"],
    )
    return out.select("ms_id", "value", "X", "timeStamps")


@query("flash_electron_ids", oracle=lambda: (
    f"SELECT user_id % 20 AS trainId, event_id % 7 AS pulseId, "
    f"row_number() OVER (PARTITION BY user_id % 20, event_id % 7 "
    f"ORDER BY event_id) - 1 AS electronId, "
    f"event_id AS eid, value AS val FROM ({_EV_SQL})"
))
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


@query("sxp_electron_ids", oracle=lambda: (
    "SELECT CAST(100000 * (rec + 1) + i // 4 AS BIGINT) AS trainId, "
    "CAST(CASE i % 4 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) AS pulseId, "
    "CAST(CASE i % 4 WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS electronId, "
    "eid, val FROM ("
    "SELECT user_id % 10 AS rec, event_id AS eid, value AS val, "
    "row_number() OVER (PARTITION BY user_id % 10 ORDER BY event_id) - 1 AS i, "
    "count(*) OVER (PARTITION BY user_id % 10) AS n "
    f"FROM ({_EV_SQL})) WHERE i % 4 < 3 AND 4 * (i // 4) + 3 <= n - 2"
))
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


# NaN electronId: NaN = 0 is false, the isnan branch keeps it
@query("pulse_projection", oracle=lambda: (
    f"SELECT event_id, electronId, pulseADC FROM (SELECT event_id, "
    f"CASE WHEN event_id % 13 = 0 THEN 'NaN'::DOUBLE "
    f"WHEN event_id % 17 = 0 THEN NULL "
    f"ELSE CAST(event_id % 3 AS DOUBLE) END AS electronId, "
    f"ADC AS pulseADC FROM ({_EV_SQL})) "
    f"WHERE electronId = 0 OR electronId IS NULL OR isnan(electronId)"
))
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


# round-trip identity: what the buffer cache reads back must equal
# the frame it was given; src_file pins the NATURAL file-sort
# (part2 before part10 — a lexical sort swaps even/odd attribution
# and fails the hash); buffer_ok pins the S8 schema-validation raise
# parquet leg: even/odd file attribution; csv/json legs (S1): the
# id columns round-tripped through the text formats, value NULL
@query("storage_roundtrip", oracle=lambda: (
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
))
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
