"""mpes-style loader (reference: sed/loader/mpes/loader.py).

The reference reads SPECS Metis ``Stream_*`` HDF5 datasets per file into a
2-D array, optionally synthesizes per-event timestamps from millisecond
markers, and emits a second evenly-time-spaced "timed" dataframe
(loader.py:54-229, 267-417). Spark-first re-expression:

- **Stream assembly** (S4): per-file stream arrays → one event DataFrame
  with float32 stream columns + (file_id, row_id). Real deployments run
  this as a one-time HDF5→Parquet conversion job over the file list; the
  array→frame step is pure and testable with injected arrays (the HDF5
  read uses the engine's pure-Python HDF5 reader — no h5py needed).
- **Timestamp synthesis**: the reference's marker fill loop
  (loader.py:325-343) assigns event j the value
  ``start + count(markers <= j)/1000`` — a step function. That IS a
  right-side searchsorted of the event index into the (small, broadcast)
  marker array, so the Spark form is one Arrow-batched pandas_udf over
  row_id; no Python loop, no shuffle.
- **Timed dataframe** (S5): row i samples the stream at event index
  ``marker[i]-1`` (loader.py:380-393) — a broadcast equi-join of the tiny
  (i, marker) table against row_id, plus ``timeStamps = start + i/1000``.
- **Count rate / elapsed time** (A13): pure-NumPy marker derivative and
  ``len(markers)/1000`` (loader.py:440-482), driver-side per-file metadata.
- **Run-ID resolution** (S3): ``Scan{run:04d}_*`` recursive glob,
  natural-sorted (loader.py:673-715).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sed_binning_spark.loaders.base import BaseLoader
from sed_binning_spark.loaders.utils import natural_sort_key

FILE_COLUMN = "file_id"
ROW_COLUMN = "row_id"

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
# stream assembly (S4: loader.py:54-140, 267-347)
# ---------------------------------------------------------------------------
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
    hdf5_to_dataframe, mpes loader.py:54-140,267-347).

    Columns are the aliased stream names cast to ``data_type`` (the
    reference reads everything as float32, loader.py:270); adds
    (file_id, row_id) and, when ``time_stamps``, the synthesized
    per-event timestamp column (float64 epoch seconds).
    """
    import pandas as pd

    alias_dict = alias_dict or {}
    if not stream_data:
        raise ValueError("stream_data must contain at least one stream array")
    lengths = {len(v) for v in stream_data.values()}
    if len(lengths) != 1:
        raise ValueError(f"stream arrays differ in length: {sorted(lengths)}")
    n = lengths.pop()

    cols: dict[str, np.ndarray] = {}
    for group, arr in stream_data.items():
        name = alias_dict.get(group, group)
        cols[name] = np.asarray(arr).astype(data_type)
    if time_stamps:
        if ms_marker is None:
            raise ValueError("time_stamps=True requires ms_marker")
        cols[time_stamp_alias] = event_timestamps_np(n, ms_marker, start_time)
    pdf = pd.DataFrame(cols)
    pdf[FILE_COLUMN] = np.int32(file_id)
    pdf[ROW_COLUMN] = np.arange(n, dtype=np.int64)
    return spark.createDataFrame(pdf)


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

    Spark plan: broadcast the tiny (i, marker) table and equi-join on the
    event row index — the event stream is never shuffled or sorted.

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
        pure-Python HDF5 reader (no h5py needed): ``Stream_*`` datasets,
        per-stream ``Name`` attribute aliases, ``msMarkers``, and the
        ``FirstEventTimeStamp`` root attribute as epoch seconds (the
        structures the reference reads through h5py,
        sed/loader/mpes/loader.py:267-347)."""
        from sed_binning_spark.io.hdf5_read import H5File

        f = H5File(path)
        names = [p.lstrip("/") for p in f.visit()]
        streams: dict[str, np.ndarray] = {}
        aliases: dict[str, str] = {}
        for name in names:
            if name.startswith("Stream_"):
                streams[name] = f.read("/" + name)
                alias = f.attrs("/" + name).get("Name")
                if alias:
                    aliases[name] = str(alias)
        out: dict = {"streams": streams, "aliases": aliases}
        if "msMarkers" in names:
            out["ms_marker"] = f.read("/msMarkers")
        out["start_time"] = _file_start_time(
            f.attrs("/").get("FirstEventTimeStamp"), path, out.get("ms_marker"),
        )
        return out

    def _read_distributed(
        self,
        paths: list[str],
        alias_dict: dict[str, str] | None,
        time_stamps: bool,
        time_stamp_alias: str,
        data_type: str = "float32",
    ) -> tuple[DataFrame, DataFrame | None, dict]:
        """Raw-file read at scale: the DRIVER touches only header pages
        (mmap — stream names, aliases, ms markers, start times), while the
        per-file stream DATA is extracted executor-side with mapInPandas
        over the path list — one task per file, no driver materialization.
        This is the 100 TB ingestion shape; the reference's equivalent is
        its per-file dask.delayed graph (mpes loader.py:114-140).
        """
        import pandas as pd

        from sed_binning_spark.io.hdf5_read import H5File

        # driver-side metadata pass: schema from the first file, markers +
        # start times per file (tiny datasets; data pages never faulted in)
        probe = H5File(paths[0])
        stream_names = sorted(
            (p.lstrip("/") for p in probe.visit() if p.startswith("/Stream_")),
            key=natural_sort_key,
        )
        if not stream_names:
            raise ValueError(f"no Stream_* datasets in {paths[0]}")
        # instrument Name attributes are the defaults; an explicit alias
        # dict overrides per stream (the reference's merge semantics —
        # hdf5_to_dataframe falls back to get_attribute(..., "Name"))
        aliases = {n: str(probe.attrs("/" + n).get("Name", n)) for n in stream_names}
        aliases.update(alias_dict or {})
        out_cols = [aliases.get(n, n) for n in stream_names]

        markers: list[np.ndarray | None] = []
        starts: list[float] = []
        elapsed = 0.0
        for p in paths:
            f = H5File(p)
            names = {q.lstrip("/") for q in f.visit()}
            # the schema comes from the FIRST file: a later file MISSING
            # one of its streams must fail here at submit time, named
            # (executor-side it would die as a bare KeyError mid-job). A
            # later file with EXTRA streams (a schema superset — e.g. a
            # diagnostic channel enabled mid-run) still reads; the extras
            # are warned about, not silently ignored.
            file_streams = {n for n in names if n.startswith("Stream_")}
            missing = sorted(set(stream_names) - file_streams)
            if missing:
                raise ValueError(
                    f"{p} is missing streams present in {paths[0]}: {missing}",
                )
            extra = sorted(file_streams - set(stream_names))
            if extra:
                import warnings

                warnings.warn(
                    f"{p} has streams absent from {paths[0]} which will "
                    f"not be read: {extra}",
                    stacklevel=2,
                )
            mm = f.read("/msMarkers") if "msMarkers" in names else None
            if mm is None and time_stamps:
                # fail at submit time with the file named — the executor
                # extraction would otherwise die mid-job with a bare KeyError
                raise ValueError(
                    f"time_stamps=True requires an msMarkers dataset, "
                    f"missing in {p}",
                )
            markers.append(mm)
            starts.append(
                _file_start_time(f.attrs("/").get("FirstEventTimeStamp"), p, mm),
            )
            if mm is not None:
                elapsed += elapsed_time_from_markers(mm)

        spark = self.spark
        # round-robin repartition: exactly one file per task. Hashing on
        # file_id would collide ~1/e of the partitions empty and leave
        # straggler tasks reading 2-3 files while cores idle.
        paths_df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(paths)], "file_id int, path string",
        ).repartition(len(paths))

        np_dtype = data_type
        ts_flag = bool(time_stamps)
        ts_alias = time_stamp_alias
        starts_by_fid = dict(enumerate(starts))

        def _extract(batches):
            for pdf in batches:
                for fid, path in zip(pdf["file_id"], pdf["path"]):
                    f = H5File(path)
                    cols = {}
                    n = None
                    for sname, cname in zip(stream_names, out_cols):
                        arr = f.read("/" + sname).astype(np_dtype)
                        # the driver pre-pass validates stream PRESENCE;
                        # a truncated file can still carry streams of
                        # unequal length — fail naming the file, not with
                        # pandas' anonymous 'arrays must be same length'
                        if n is not None and len(arr) != n:
                            raise ValueError(
                                f"stream {sname!r} in {path} has "
                                f"{len(arr)} rows but an earlier stream "
                                f"has {n} (truncated file?)",
                            )
                        cols[cname] = arr
                        n = len(arr)
                    out = pd.DataFrame(cols)
                    if ts_flag:
                        mm = f.read("/msMarkers")
                        out[ts_alias] = event_timestamps_np(
                            n, mm, starts_by_fid[int(fid)],
                        )
                    out[FILE_COLUMN] = np.int32(fid)
                    out[ROW_COLUMN] = np.arange(n, dtype=np.int64)
                    yield out

        schema = ", ".join(f"`{c}` {_spark_type(np_dtype)}" for c in out_cols)
        if ts_flag:
            schema += f", `{ts_alias}` double"
        schema += f", {FILE_COLUMN} int, {ROW_COLUMN} long"
        event_df = paths_df.mapInPandas(_extract, schema)

        # ONE broadcast marker table + ONE join for all files: a per-file
        # timed_dataframe_from_markers union would re-run the whole
        # mapInPandas extraction once per file (O(files^2) file reads)
        marker_rows = []
        for fid, (mm, start) in enumerate(zip(markers, starts)):
            if mm is None:
                continue
            for i, m in enumerate(np.asarray(mm, dtype=np.int64)):
                marker_rows.append((fid, int(i), int(m) - 1, start))
        timed_df = None
        if marker_rows:
            mdf = spark.createDataFrame(
                marker_rows,
                schema=f"{FILE_COLUMN} int, __ms_i long, __target long, __start double",
            )
            keep = [c for c in event_df.columns if c not in (FILE_COLUMN, ROW_COLUMN)]
            if ts_flag and ts_alias in keep:
                keep.remove(ts_alias)
            timed_df = (
                F.broadcast(mdf)
                .join(
                    event_df,
                    on=(mdf[FILE_COLUMN] == event_df[FILE_COLUMN])
                    & (mdf["__target"] == event_df[ROW_COLUMN]),
                    how="inner",
                )
                .select(mdf[FILE_COLUMN], F.col("__ms_i"), F.col("__start"), *keep)
            )
            if ts_flag:
                timed_df = timed_df.withColumn(
                    ts_alias,
                    F.col("__start") + F.col("__ms_i").cast("double") / F.lit(1000.0),
                )
            timed_df = timed_df.drop("__start").withColumnRenamed(
                "__ms_i", ROW_COLUMN.replace("row", "ms"),
            )

        self.metadata.update({
            "file_statistics": {"num_files": len(paths)},
            "elapsed_time": elapsed,
        })
        return event_df, timed_df, self.metadata

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
        instrument HDF5 paths; the byte-read then goes through
        :meth:`h5_to_streams`). Alternatively ``files_data`` injects the
        extracted payloads directly — one dict per file:
        ``{"streams": {name: ndarray}, "ms_marker": ndarray | None,
        "start_time": float}``.
        """
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
            conf_aliases = self.config.get("dataframe", {}).get("aliases", {})
            return self._read_distributed(
                paths, alias_dict or conf_aliases, time_stamps, time_stamp_alias,
            )
        conf = self.config.get("dataframe", {})
        alias_dict = alias_dict or conf.get("aliases", {})
        # injected-data path never goes through resolve_paths, which is
        # what resets + records caller metadata on the other path
        self.metadata = dict(metadata or {})

        event_parts: list[DataFrame] = []
        timed_parts: list[DataFrame] = []
        elapsed = 0.0
        for fid, fd in enumerate(files_data):
            marker = fd.get("ms_marker")
            start = float(fd.get("start_time", 0.0))
            ev = streams_to_dataframe(
                self.spark,
                fd["streams"],
                # per-file stream aliases (the instrument's own Name attrs),
                # with caller/config overrides merged ON TOP per stream —
                # the same merge semantics as the distributed read path
                alias_dict={**fd.get("aliases", {}), **(alias_dict or {})},
                time_stamps=time_stamps,
                ms_marker=marker,
                start_time=start,
                time_stamp_alias=time_stamp_alias,
                file_id=fid,
            )
            event_parts.append(ev)
            if marker is not None:
                timed = timed_dataframe_from_markers(
                    ev,
                    marker,
                    start_time=start,
                    time_stamps=time_stamps,
                    time_stamp_alias=time_stamp_alias,
                    file_id=fid,
                )
                timed_parts.append(timed.withColumn(FILE_COLUMN, F.lit(fid).cast("int")))
                elapsed += elapsed_time_from_markers(marker)

        event_df = event_parts[0]
        for p in event_parts[1:]:
            event_df = event_df.unionByName(p)
        timed_df = None
        if timed_parts:
            timed_df = timed_parts[0]
            for p in timed_parts[1:]:
                timed_df = timed_df.unionByName(p)

        self.metadata.update({
            "file_statistics": {"num_files": len(files_data)},
            "elapsed_time": elapsed,
        })
        return event_df, timed_df, self.metadata

    def get_count_rate(self, files_data: Sequence[dict]) -> tuple[np.ndarray, np.ndarray]:
        """Concatenated per-file count rate with accumulated time offsets
        (mpes loader.py:924-977)."""
        secs_list, rate_list = [], []
        accumulated = 0.0
        for i, fd in enumerate(files_data):
            if fd.get("ms_marker") is None:
                raise ValueError(
                    f"files_data[{i}] has no ms_marker — count rate needs "
                    "the ms-marker stream",
                )
            rate, secs = count_rate_from_markers(fd["ms_marker"])
            secs_list.append(accumulated + secs)
            rate_list.append(rate)
            accumulated += secs[-1]
        return np.concatenate(rate_list), np.concatenate(secs_list)

    def get_elapsed_time(self, files_data: Sequence[dict]) -> float:
        for i, fd in enumerate(files_data):
            if fd.get("ms_marker") is None:
                raise ValueError(
                    f"files_data[{i}] has no ms_marker — elapsed time needs "
                    "the ms-marker stream",
                )
        return sum(elapsed_time_from_markers(fd["ms_marker"]) for fd in files_data)
