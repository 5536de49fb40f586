"""mpes-style loader (reference: sed/loader/mpes/loader.py).

The reference reads SPECS Metis ``Stream_*`` HDF5 datasets per file into a
2-D array, optionally synthesizes per-event timestamps from millisecond
markers, and emits a second evenly-time-spaced "timed" dataframe
(loader.py:54-229, 267-417). Spark-first re-expression:

- **Stream assembly** (S4): per-file stream arrays → one event DataFrame
  with float32 stream columns + (file_id, row_id). One driver-side plan
  (streams, aliases, checks, schema) and one per-file NumPy kernel serve
  both read modes: executor-side ``mapInPandas`` over the file list, or
  driver-side over injected payloads (the HDF5 read uses the engine's
  pure-Python HDF5 reader — no h5py needed).
- **Timestamp synthesis**: the reference's marker fill loop
  (loader.py:325-343) assigns event j the value
  ``start + count(markers <= j)/1000`` — a step function. That IS a
  right-side searchsorted of the event index into the (small) marker
  array: NumPy in the kernel; on an existing frame, one Arrow-batched
  pandas_udf over row_id — no Python loop, no shuffle.
- **Timed dataframe** (S5): row i samples every stream at event index
  ``marker[i]-1`` (loader.py:380-393), plus ``timeStamps = start + i/1000``.
  The same kernel gathers those rows per file in NumPy, so the loader
  ships only marker rows and joins nothing;
  :func:`timed_dataframe_from_markers` is the same rule on an existing
  frame (a broadcast equi-join on row_id).
- **Count rate / elapsed time** (A13): pure-NumPy marker derivative and
  ``len(markers)/1000`` (loader.py:440-482), driver-side per-file metadata.
- **Run-ID resolution** (S3): ``Scan{run:04d}_*`` recursive glob,
  natural-sorted (loader.py:673-715).
"""

from __future__ import annotations

import glob as _glob
import os
import warnings
from collections.abc import Callable, Sequence
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sed_binning_spark.loaders.base import BaseLoader
from sed_binning_spark.loaders.utils import natural_sort_key

FILE_COLUMN = "file_id"
ROW_COLUMN = "row_id"
MS_COLUMN = "ms_id"

_SPARK_TYPES = {"float32": "float", "float64": "double",
                "int32": "int", "int64": "long"}


def _spark_type(np_dtype: str) -> str:
    try:
        return _SPARK_TYPES[np_dtype]
    except KeyError:
        raise ValueError(f"unsupported stream data_type {np_dtype!r}") from None


# ---------------------------------------------------------------------------
# timestamp synthesis (loader.py:304-343) — NumPy kernel + Spark UDF
# ---------------------------------------------------------------------------
def event_timestamps_np(
    n_events: int,
    ms_marker: np.ndarray,
    start_time: float,
) -> np.ndarray:
    """Per-event timestamps from ms markers (hdf5_to_array, mpes
    loader.py:325-343): events before the first marker get ``start_time``;
    events in [marker[i], marker[i+1]) get ``start + (i+1)/1000``; the tail
    gets ``start + len(marker)/1000``. Equivalent closed form:
    ``start + searchsorted(marker, j, side="right")/1000`` per event j.
    """
    marker = np.asarray(ms_marker, dtype=np.int64)
    counts = np.searchsorted(marker, np.arange(n_events), side="right")
    return start_time + counts / 1000.0


def append_event_timestamps(
    df: DataFrame,
    ms_marker: np.ndarray,
    start_time: float,
    time_stamp_column: str = "timeStamps",
    row_column: str = ROW_COLUMN,
) -> DataFrame:
    """Spark form of the timestamp synthesis: one Arrow-batched pandas_udf
    running the broadcast searchsorted over the stable in-file row index.
    The marker array is per-file metadata (ms of acquisition — O(minutes ×
    1000) entries), tiny next to the event stream it stamps. It still
    reaches 1e5+ values, where the JVM binary search of
    ``binning.expressions`` loses to this UDF (1.8-1.9 vs 1.2-1.6 s on 4e6
    rows): its constant array travels with the plan."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    marker = np.asarray(ms_marker, dtype=np.int64)
    start = float(start_time)

    def _stamp_fn(rid):
        j = rid.to_numpy(dtype=np.int64)
        return pd.Series(start + np.searchsorted(marker, j, side="right") / 1000.0)

    _stamp_fn.__annotations__ = {"rid": pd.Series, "return": pd.Series}
    _stamp = pandas_udf(_stamp_fn, "double")
    return df.withColumn(time_stamp_column, _stamp(F.col(row_column)))


# ---------------------------------------------------------------------------
# S4/S5 assembly: one driver-side plan, one per-file kernel
# (loader.py:54-140, 267-417)
# ---------------------------------------------------------------------------
class _Plan(NamedTuple):
    streams: list[str]               # source stream names, natural-sorted
    columns: list[str]               # their (aliased) output column names
    data_type: str
    time_stamp_alias: str | None     # None: no timestamp column
    events_schema: str
    timed_schema: str


def _assembly_plan(sources, alias_dict, time_stamps, time_stamp_alias,
                   data_type="float32") -> _Plan:
    """Driver-side plan shared by both read modes; ``sources`` holds one
    ``(label, stream names, Name aliases, ms markers)`` per file.

    The first source sets the streams (natural-sorted) and the default
    aliases, its instrument ``Name`` attributes; caller aliases override
    them per stream (the reference's merge — hdf5_to_dataframe falls back
    to the ``Name`` attribute). A later source missing one of the streams
    fails here, named, rather than mid-job; one with extra streams (a
    schema superset — e.g. a diagnostic channel enabled mid-run) is read
    without them, with a warning.
    """
    label0, names0, aliases0, _ = sources[0]
    streams = sorted(names0, key=natural_sort_key)
    if not streams:
        raise ValueError(f"no stream arrays in {label0}")
    for label, names, _, marker in sources:
        missing = sorted(set(streams) - set(names), key=natural_sort_key)
        if missing:
            raise ValueError(
                f"{label} is missing streams present in {label0}: {missing}",
            )
        extra = sorted(set(names) - set(streams), key=natural_sort_key)
        if extra:
            warnings.warn(
                f"{label} has streams absent from {label0} which will not "
                f"be read: {extra}",
                stacklevel=4,
            )
        if time_stamps and marker is None:
            raise ValueError(
                f"time_stamps=True requires ms markers (msMarkers), "
                f"missing in {label}",
            )
    aliases = {**aliases0, **(alias_dict or {})}
    columns = [aliases.get(s, s) for s in streams]
    ts_alias = time_stamp_alias if time_stamps else None
    values = ", ".join(f"`{c}` {_spark_type(data_type)}" for c in columns)
    if ts_alias:
        values += f", `{ts_alias}` double"
    return _Plan(
        streams, columns, data_type, ts_alias,
        f"{values}, {FILE_COLUMN} int, {ROW_COLUMN} long",
        f"{FILE_COLUMN} int, {MS_COLUMN} long, {values}",
    )


def _file_frames(plan: _Plan, read: Callable[[str], np.ndarray], ms_marker,
                 start_time: float, file_id: int, label: str,
                 events: bool = True, timed: bool = True):
    """One file's pandas frames (hdf5_to_array, hdf5_to_timed_array, mpes
    loader.py:267-393); ``read(stream)`` returns one source stream.

    - events: ``*columns, [ts], file_id, row_id``, one row per event;
    - timed: ``file_id, ms_id, *columns, [ts]``. Row i samples every stream
      at event index ``marker[i]-1``, with ``ts = start + i/1000``, for each
      i with ``0 <= marker[i]-1 < n`` — exactly the rows of the inner join
      in :func:`timed_dataframe_from_markers`: a duplicate marker repeats a
      row, a marker of 0 or above n gives none. None without markers.
    """
    import pandas as pd

    cols = {
        c: np.asarray(read(s)).astype(plan.data_type)
        for s, c in zip(plan.streams, plan.columns)
    }
    lengths = sorted({len(a) for a in cols.values()})
    if len(lengths) != 1:
        # a truncated file can carry streams of unequal length: name it,
        # not pandas' anonymous 'arrays must be same length'
        raise ValueError(f"stream arrays differ in length in {label}: {lengths}")
    n = lengths[0]
    ts = plan.time_stamp_alias
    ev = tm = None
    if events:
        ev = pd.DataFrame(cols)
        if ts:
            ev[ts] = event_timestamps_np(n, ms_marker, start_time)
        ev[FILE_COLUMN] = np.int32(file_id)
        ev[ROW_COLUMN] = np.arange(n, dtype=np.int64)
    if timed and ms_marker is not None:
        target = np.asarray(ms_marker, dtype=np.int64) - 1
        ms_id = np.flatnonzero((target >= 0) & (target < n)).astype(np.int64)
        tm = pd.DataFrame({
            FILE_COLUMN: np.full(ms_id.size, file_id, dtype=np.int32),
            MS_COLUMN: ms_id,
            **{c: a[target[ms_id]] for c, a in cols.items()},
        })
        if ts:
            tm[ts] = start_time + ms_id / 1000.0
    return ev, tm


def _payload_frames(spark, files_data, alias_dict, time_stamps, time_stamp_alias):
    """Both frames of injected payloads: the kernel runs on the driver per
    payload, then one ``createDataFrame`` per frame kind."""
    import pandas as pd

    if not files_data:
        raise ValueError("files_data is empty")
    labels = [f"files_data[{i}]" for i in range(len(files_data))]
    plan = _assembly_plan(
        [(lb, list(fd["streams"]), fd.get("aliases", {}), fd.get("ms_marker"))
         for lb, fd in zip(labels, files_data)],
        alias_dict, time_stamps, time_stamp_alias,
    )
    frames = [
        _file_frames(plan, fd["streams"].__getitem__, fd.get("ms_marker"),
                     float(fd.get("start_time", 0.0)), fid, lb)
        for fid, (lb, fd) in enumerate(zip(labels, files_data))
    ]
    event_df = spark.createDataFrame(
        pd.concat([ev for ev, _ in frames], ignore_index=True), plan.events_schema,
    )
    timed = [tm for _, tm in frames if tm is not None]
    timed_df = spark.createDataFrame(
        pd.concat(timed, ignore_index=True), plan.timed_schema,
    ) if timed else None
    return event_df, timed_df


def streams_to_dataframe(
    spark: SparkSession,
    stream_data: dict[str, np.ndarray],
    alias_dict: dict[str, str] | None = None,
    time_stamps: bool = False,
    ms_marker: np.ndarray | None = None,
    start_time: float = 0.0,
    time_stamp_alias: str = "timeStamps",
    file_id: int = 0,
    data_type: str = "float32",
) -> DataFrame:
    """One file's ``Stream_*`` arrays → an event DataFrame (hdf5_to_array +
    hdf5_to_dataframe, mpes loader.py:54-140,267-347), through the loader's
    plan and per-file kernel.

    Columns are the aliased stream names, natural-sorted by stream, cast to
    ``data_type`` (the reference reads everything as float32,
    loader.py:270); then, when ``time_stamps``, the synthesized per-event
    timestamp column (float64 epoch seconds); then (file_id, row_id).
    """
    plan = _assembly_plan(
        [("stream_data", list(stream_data), {}, ms_marker)],
        alias_dict, time_stamps, time_stamp_alias, data_type,
    )
    ev, _ = _file_frames(
        plan, stream_data.__getitem__, ms_marker, float(start_time), file_id,
        "stream_data", timed=False,
    )
    return spark.createDataFrame(ev, plan.events_schema)


def timed_dataframe_from_markers(
    df: DataFrame,
    ms_marker: np.ndarray,
    start_time: float = 0.0,
    time_stamps: bool = False,
    time_stamp_alias: str = "timeStamps",
    row_column: str = ROW_COLUMN,
    columns: Sequence[str] | None = None,
    file_id: int | None = None,
) -> DataFrame:
    """S5: the evenly-time-spaced dataframe — row i samples every stream
    column at event index ``marker[i] - 1`` (hdf5_to_timed_array, mpes
    loader.py:380-393), ``timeStamps = start + i/1000`` (loader.py:411-416).

    The frame-level form of the rule the loader applies per file in NumPy
    (:func:`_file_frames`), for a frame that already exists: broadcast the
    tiny (i, marker) table and equi-join on the event row index — the event
    stream is never shuffled or sorted.

    Markers index rows WITHIN one source file: on a frame whose ``row_id``
    restarts per file, pass ``file_id`` to name the file (the join is then
    qualified; unqualified it would sample every file at once). Leave
    ``file_id=None`` only when the frame is single-file or its row ids are
    globally unique.
    """
    marker = np.asarray(ms_marker, dtype=np.int64)
    rows = [(int(i), int(m) - 1) for i, m in enumerate(marker)]
    spark = df.sparkSession
    mdf = spark.createDataFrame(rows, schema="__ms_i long, __target long")
    if file_id is not None:
        if FILE_COLUMN not in df.columns:
            raise ValueError(f"file_id given but no {FILE_COLUMN!r} column present")
        df = df.where(F.col(FILE_COLUMN) == int(file_id))
    keep = list(columns) if columns is not None else [
        c for c in df.columns if c not in (FILE_COLUMN, row_column)
    ]
    out = (
        F.broadcast(mdf)
        .join(df, on=mdf["__target"] == df[row_column], how="inner")
        .select(F.col("__ms_i"), *keep)
    )
    if time_stamps:
        out = out.withColumn(
            time_stamp_alias,
            F.lit(float(start_time)) + F.col("__ms_i").cast("double") / F.lit(1000.0),
        )
    return out.withColumnRenamed("__ms_i", row_column.replace("row", "ms"))


# ---------------------------------------------------------------------------
# A13: count rate + elapsed time from markers (loader.py:440-482)
# ---------------------------------------------------------------------------
def count_rate_from_markers(
    ms_marker: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Count rate in Hz + seconds into the scan (get_count_rate, mpes
    loader.py:440-462). The reference fits a k=1 spline through
    (secs, marker) and evaluates its derivative at the knots; for a
    piecewise-linear interpolant that derivative is the per-interval slope
    — reproduced here with finite differences (right-slope per knot, last
    knot carries the final interval's slope)."""
    marker = np.asarray(ms_marker, dtype=np.float64)
    n = len(marker)
    if n < 2:
        raise ValueError("need at least two ms markers for a count rate")
    secs = np.arange(n) / 1000.0
    slopes = np.diff(marker) / np.diff(secs)
    rate = np.empty(n, dtype=np.float64)
    rate[:-1] = slopes
    rate[-1] = slopes[-1]
    return rate, secs


def elapsed_time_from_markers(ms_marker: np.ndarray) -> float:
    """Acquisition time in seconds = number of ms markers / 1000
    (get_elapsed_time, mpes loader.py:464-481)."""
    return len(np.asarray(ms_marker)) / 1000.0


def _file_start_time(first_ts, path: str, ms_marker) -> float:
    """File acquisition start in epoch seconds. Prefer the
    ``FirstEventTimeStamp`` attribute; when it is absent or unparseable,
    fall back to the file's mtime minus the acquisition duration (old files
    predate the attribute; mtime marks the END of the write) — the
    reference's fallback at mpes loader.py:312-325. Never 0.0: an epoch-0
    anchor would silently place every event in 1970."""
    if isinstance(first_ts, str):
        from datetime import datetime

        try:
            return datetime.fromisoformat(first_ts).timestamp()
        except ValueError:
            pass
    start = os.path.getmtime(path)
    if ms_marker is not None:
        start -= len(np.asarray(ms_marker)) / 1000.0
    return float(start)


def _required_markers(files_data: Sequence[dict], what: str) -> list:
    for i, fd in enumerate(files_data):
        if fd.get("ms_marker") is None:
            raise ValueError(
                f"files_data[{i}] has no ms_marker — {what} needs the "
                "ms-marker stream",
            )
    return [fd["ms_marker"] for fd in files_data]


def _h5_header(f, path: str) -> tuple[list[str], np.ndarray | None, float]:
    """An open file's natural-sorted ``Stream_*`` names, its ms markers
    (None without ``msMarkers``) and its start time: header pages and the
    small marker dataset only, no stream data."""
    names = {p.lstrip("/") for p in f.visit()}
    streams = sorted(
        (n for n in names if n.startswith("Stream_")), key=natural_sort_key,
    )
    mm = f.read("/msMarkers") if "msMarkers" in names else None
    return streams, mm, _file_start_time(
        f.attrs("/").get("FirstEventTimeStamp"), path, mm,
    )


def _name_aliases(f, streams) -> dict[str, str]:
    """Each stream's instrument ``Name`` attribute, where it has one."""
    return {s: str(a) for s in streams if (a := f.attrs("/" + s).get("Name"))}


# ---------------------------------------------------------------------------
# S3: run-ID resolution (loader.py:673-715)
# ---------------------------------------------------------------------------
def get_files_from_run_id(
    run_id: str | int,
    folders: str | Sequence[str],
    extension: str = "h5",
) -> list[str]:
    """Run identifier → natural-sorted file list via the mpes pattern
    ``**/Scan{run:04d}_*.{ext}`` (mpes loader.py:673-715)."""
    if isinstance(folders, str):
        folders = [folders]
    files: list[str] = []
    for folder in folders:
        pattern = f"{folder}/**/Scan{str(run_id).zfill(4)}_*.{extension}"
        files.extend(sorted(_glob.glob(pattern, recursive=True), key=natural_sort_key))
    if not files:
        raise FileNotFoundError(
            f"No files found for run {run_id} in directory {list(folders)}",
        )
    return files


# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------
class MpesLoader(BaseLoader):
    """S4/S5 orchestration: assemble (event_df, timed_df, metadata) from
    per-file stream arrays (mpes loader.py read_dataframe contract).

    The HDF5 → arrays step runs on the engine's pure-Python HDF5 reader
    (:meth:`h5_to_streams`); tests and headless environments can still
    inject ``files_data`` directly.
    """

    name = "mpes"
    supported_file_types = ("h5",)

    def get_files_from_run_id(self, run_id, folders, extension="h5", **kwds):
        return get_files_from_run_id(run_id, folders, extension)

    def h5_to_streams(self, path: str) -> dict:
        """One instrument file -> stream payload dict, via the engine's
        pure-Python HDF5 reader (no h5py needed): ``Stream_*`` datasets in
        natural order, per-stream ``Name`` attribute aliases, ``msMarkers``
        (None when absent), and the ``FirstEventTimeStamp`` root attribute
        as epoch seconds (the
        structures the reference reads through h5py,
        sed/loader/mpes/loader.py:267-347)."""
        from sed_binning_spark.io.hdf5_read import H5File

        with H5File(path) as f:
            streams, marker, start = _h5_header(f, path)
            return {
                "streams": {n: f.read("/" + n) for n in streams},
                "aliases": _name_aliases(f, streams),
                "ms_marker": marker,
                "start_time": start,
            }

    def _read_distributed(
        self,
        paths: list[str],
        alias_dict: dict[str, str] | None,
        time_stamps: bool,
        time_stamp_alias: str,
    ) -> tuple[DataFrame, DataFrame | None, list]:
        """Raw-file read at scale: the DRIVER touches only header pages
        (mmap — stream names, aliases, ms markers, start times) to plan,
        while executors decode the stream DATA through the per-file kernel,
        one task per file, in two ``mapInPandas`` frames: one yields the
        event rows, the other only the timed rows (no join back onto the
        events). No driver materialization: this is the 100 TB ingestion
        shape; the reference's equivalent is its per-file dask.delayed
        graph (mpes loader.py:114-140). Returns both frames and each
        file's ms markers (None where a file has none).
        """
        from sed_binning_spark.io.hdf5_read import H5File

        sources, starts = [], []
        for p in paths:
            with H5File(p) as f:
                streams, mm, start = _h5_header(f, p)
                aliases = {} if sources else _name_aliases(f, streams)
            sources.append((p, streams, aliases, mm))
            starts.append(start)
        plan = _assembly_plan(sources, alias_dict, time_stamps, time_stamp_alias)

        def _extract(batches, timed):
            for pdf in batches:
                for fid, path in zip(pdf[FILE_COLUMN], pdf["path"]):
                    with H5File(path) as f:
                        need_marker = timed or plan.time_stamp_alias
                        mm = f.read("/msMarkers") if need_marker else None
                        ev, tm = _file_frames(
                            plan, lambda s: f.read("/" + s), mm, starts[fid],
                            int(fid), path, events=not timed, timed=timed,
                        )
                    yield tm if timed else ev

        def _per_file(fids):
            # round-robin repartition: exactly one file per task. Hashing
            # on file_id would collide ~1/e of the partitions empty and
            # leave straggler tasks reading 2-3 files while cores idle.
            return self.spark.createDataFrame(
                [(i, paths[i]) for i in fids], f"{FILE_COLUMN} int, path string",
            ).repartition(len(fids))

        event_df = _per_file(range(len(paths))).mapInPandas(
            lambda b: _extract(b, False), plan.events_schema,
        )
        markers = [s[3] for s in sources]
        marked = [fid for fid, m in enumerate(markers) if m is not None]
        timed_df = _per_file(marked).mapInPandas(
            lambda b: _extract(b, True), plan.timed_schema,
        ) if marked else None
        return event_df, timed_df, markers

    def read_dataframe(
        self,
        files: str | Sequence[str] | None = None,
        folders: str | Sequence[str] | None = None,
        runs=None,
        ftype: str = "h5",
        metadata: dict | None = None,
        collect_metadata: bool = False,
        files_data: Sequence[dict] | None = None,
        alias_dict: dict[str, str] | None = None,
        time_stamps: bool = False,
        time_stamp_alias: str = "timeStamps",
        **kwds,
    ) -> tuple[DataFrame, DataFrame | None, dict]:
        """Assemble event + timed dataframes.

        Read modes follow the uniform contract (files/folders/runs resolve
        instrument HDF5 paths, decoded executor-side). Alternatively
        ``files_data`` injects the extracted payloads directly — one dict
        per file, as :meth:`h5_to_streams` returns it:
        ``{"streams": {name: ndarray}, "aliases": {name: alias},
        "ms_marker": ndarray | None, "start_time": float}``. Both modes go
        through the same plan and per-file kernel, so the same files give
        identical frames: events ``*streams, [ts], file_id, row_id`` and
        timed ``file_id, ms_id, *streams, [ts]`` (None when no file has
        ms markers).
        """
        alias_dict = alias_dict or self.config.get("dataframe", {}).get("aliases", {})
        if files_data is None:
            if files is None and folders is None and runs is None:
                raise ValueError(
                    "provide files/folders/runs or inject files_data "
                    "(see h5_to_streams)",
                )
            paths = self.resolve_paths(
                files=files, folders=folders, runs=runs, ftype=ftype,
                metadata=metadata, **kwds,
            )
            event_df, timed_df, markers = self._read_distributed(
                paths, alias_dict, time_stamps, time_stamp_alias,
            )
        else:
            # injected-data path never goes through resolve_paths, which is
            # what resets + records caller metadata on the other path
            self.metadata = dict(metadata or {})
            event_df, timed_df = _payload_frames(
                self.spark, files_data, alias_dict, time_stamps, time_stamp_alias,
            )
            markers = [fd.get("ms_marker") for fd in files_data]
        self.metadata.update({
            "file_statistics": {"num_files": len(markers)},
            "elapsed_time": sum(
                elapsed_time_from_markers(m) for m in markers if m is not None
            ),
        })
        return event_df, timed_df, self.metadata

    def get_count_rate(self, files_data: Sequence[dict]) -> tuple[np.ndarray, np.ndarray]:
        """Concatenated per-file count rate with accumulated time offsets
        (mpes loader.py:924-977)."""
        secs_list, rate_list = [], []
        accumulated = 0.0
        for marker in _required_markers(files_data, "count rate"):
            rate, secs = count_rate_from_markers(marker)
            secs_list.append(accumulated + secs)
            rate_list.append(rate)
            accumulated += secs[-1]
        return np.concatenate(rate_list), np.concatenate(secs_list)

    def get_elapsed_time(self, files_data: Sequence[dict]) -> float:
        markers = _required_markers(files_data, "elapsed time")
        return sum(elapsed_time_from_markers(m) for m in markers)
