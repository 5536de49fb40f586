"""HDF5 channel extraction for the flash and sxp loaders.

flash and sxp describe their raw-file layout with the same channel-spec
dict shape (``format`` + either ``group_name`` or
``index_key``/``dataset_key``; reference config schema,
sed/config/flash_example_config.yaml and sxp config); only the specs
differ, so both loaders read their files through one function here:

- :func:`channel_frames` turns a list of raw files into per-train channel
  frames: ``"electron"`` (hit arrays), ``"pulse"`` (per-pulse arrays),
  ``"aux"`` (the ``dldAux`` vector) and ``"train"`` (per-train scalars).
  It checks every channel's ``format`` once, then takes the bulky
  per-electron arrays through :func:`electron_frames_distributed`
  (executors read them, one task per file) and the small per-pulse and
  per-train channels through :func:`small_channel_pdfs` (the driver
  reads them, a few files at a time).
- :func:`read_channel` reads one channel's (trainId index, values);
  :func:`aligned_array_pdf` assembles index-aligned array channels into
  one pandas frame, enforcing that every channel shares the SAME train
  index (positional attach would silently mis-attribute hits);
  :func:`first_reading_train_pdf` outer-merges per-train scalar series,
  keeping the first reading per train (ids may repeat, e.g. encoder
  readbacks).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame

from sed_binning_spark.loaders.utils import map_files, one_task_per_file

FORMATS = ("per_electron", "per_pulse", "per_train")


def channel_h5_keys(name: str, ch: dict) -> tuple[str, str]:
    """(index_key, dataset_key) for one channel spec. ``group_name`` form:
    datasets are ``<group>/index`` + ``<group>/value`` (``/time`` for the
    timeStamp channel — reference flash/loader.py:398-410); otherwise the
    spec names both datasets explicitly."""
    if "group_name" in ch:
        grp = ch["group_name"].rstrip("/")
        ds = "time" if name == "timeStamp" else "value"
        return f"{grp}/index", f"{grp}/{ds}"
    return ch["index_key"], ch["dataset_key"]


def read_channel(f, name: str, ch: dict) -> tuple[np.ndarray, np.ndarray]:
    """One channel from an open :class:`~sed_binning_spark.io.hdf5_read.H5File`:
    (int64 train index, float64 values, detector ``slice`` applied)."""
    idx_key, ds_key = channel_h5_keys(name, ch)
    idx = f.read(idx_key).astype(np.int64)
    val = f.read(ds_key)
    sl = ch.get("slice")
    if sl is not None and val.ndim >= 2:
        val = val[:, sl, ...]
    return idx, np.asarray(val, dtype=np.float64)


def aligned_array_pdf(chans: dict[str, tuple[np.ndarray, np.ndarray]], kind: str,
                      context: str = ""):
    """trainId + one array column per channel, all sharing one train index.

    Channels whose index differs from the first raise: attaching by
    position would assign values to the wrong trains.
    """
    import pandas as pd

    idx0 = next(iter(chans.values()))[0]
    pdf = pd.DataFrame({"trainId": idx0})
    where = f" in {context}" if context else ""
    for name, (idx, val) in chans.items():
        if not np.array_equal(idx, idx0):
            raise ValueError(
                f"{kind} channel {name}{where} has a different train index",
            )
        pdf[name] = list(val)
    # a repeated train id in the index dataset is a repeated READBACK of
    # the same train (the case first_reading_train_pdf handles for scalar
    # channels): keep the first reading, or the outer join on trainId
    # downstream would silently multiply every event row of that train
    return pdf[~pdf["trainId"].duplicated(keep="first")].reset_index(drop=True)


def array_frame_schema(names) -> str:
    """Spark schema string for an :func:`aligned_array_pdf` result."""
    arr_cols = ", ".join(f"`{n}` array<double>" for n in names)
    return f"trainId long, {arr_cols}"


def first_reading_train_pdf(chans: dict[str, tuple[np.ndarray, np.ndarray]]):
    """Per-train scalar channels outer-merged on trainId, first reading per
    (possibly repeated) train id, sorted by trainId."""
    import pandas as pd

    merged: pd.DataFrame | None = None
    for name, (idx, val) in chans.items():
        _, first = np.unique(idx, return_index=True)
        part = pd.DataFrame({"trainId": idx[first], name: val[first]})
        merged = part if merged is None else merged.merge(
            part, on="trainId", how="outer",
        )
    return merged.sort_values("trainId")


def train_frame_schema(columns) -> str:
    """Spark schema string for a :func:`first_reading_train_pdf` result."""
    cols = ", ".join(f"`{c}` double" for c in columns if c != "trainId")
    return f"trainId long, {cols}"


def union_frame_maps(per_file) -> dict:
    """Merge per-file ``{kind: DataFrame}`` maps into one map by
    ``unionByName`` per kind."""
    out: dict = {}
    for frames in per_file:
        for key, frame in frames.items():
            out[key] = frame if key not in out else out[key].unionByName(frame)
    return out


def channels_by_format(channels: dict[str, dict]) -> dict[str, dict[str, dict]]:
    """``{format: {name: spec}}`` for every format in :data:`FORMATS`; a
    channel with any other format raises, naming the channel (a misspelled
    format must not make its channel vanish)."""
    out: dict[str, dict[str, dict]] = {fmt: {} for fmt in FORMATS}
    for name, ch in channels.items():
        fmt = ch.get("format")
        if fmt not in out:
            raise ValueError(
                f"channel {name!r} has unknown format {fmt!r} "
                f"(expected one of {', '.join(FORMATS)})",
            )
        out[fmt][name] = ch
    return out


def electron_frames_distributed(
    spark,
    paths: Sequence[str],
    channels: dict[str, dict],
) -> DataFrame:
    """The per-electron channels ``channels`` of every file, one
    mapInPandas task per file: executors read the bulky hit arrays
    straight from the raw bytes with the built-in HDF5 reader; the driver
    never materializes event data."""
    channels = {k: dict(v) for k, v in channels.items()}

    def _extract(batches):
        from sed_binning_spark.io.hdf5_read import H5File

        for pdf in batches:
            for path in pdf["path"]:
                with H5File(path) as f:
                    chans = {n: read_channel(f, n, ch) for n, ch in channels.items()}
                yield aligned_array_pdf(chans, "per-electron", context=path)

    return one_task_per_file(spark, [(p,) for p in paths], "path string").mapInPandas(
        _extract, array_frame_schema(channels),
    )


def small_channel_pdfs(path: str, pulse: dict[str, dict], train: dict[str, dict]):
    """One file's per-pulse (``pulse``) and per-train (``train``) channels,
    read on the driver, as pandas frames: ``"pulse"`` (aligned per-pulse
    arrays), ``"aux"`` (a per-pulse ``dldAux`` vector, split into named
    scalars by the assembly) and ``"train"`` (first reading per train)."""
    from sed_binning_spark.io.hdf5_read import H5File

    with H5File(path) as f:
        pulse_chans = {}
        for name, ch in pulse.items():
            idx, val = read_channel(f, name, ch)
            pulse_chans[name] = (idx, val.reshape(val.shape[0], -1))
        train_chans = {}
        for name, ch in train.items():
            idx, val = read_channel(f, name, ch)
            train_chans[name] = (idx, val.reshape(val.shape[0], -1)[:, 0])
    out = {}
    if "dldAux" in pulse_chans:
        out["aux"] = aligned_array_pdf(
            {"dldAux": pulse_chans.pop("dldAux")}, "per-pulse", context=path,
        )
    if pulse_chans:
        out["pulse"] = aligned_array_pdf(pulse_chans, "per-pulse", context=path)
    if train_chans:
        out["train"] = first_reading_train_pdf(train_chans)
    return out


def channel_frames(spark, paths: Sequence[str], channels: dict[str, dict]) -> dict[str, DataFrame]:
    """Every configured channel of the raw files ``paths`` as per-train
    frames keyed ``"electron"``, ``"pulse"``, ``"aux"`` and ``"train"``
    (a kind is absent when no channel feeds it). Per-electron arrays are
    read on executors; the small per-pulse and per-train channels on the
    driver, then each kind becomes one DataFrame over all files."""
    import pandas as pd

    by_format = channels_by_format(channels)
    frames: dict[str, DataFrame] = {}
    if by_format["per_electron"]:
        frames["electron"] = electron_frames_distributed(
            spark, paths, by_format["per_electron"],
        )
    if by_format["per_pulse"] or by_format["per_train"]:
        per_file = map_files(
            lambda p: small_channel_pdfs(p, by_format["per_pulse"], by_format["per_train"]),
            paths,
        )
        for kind in per_file[0]:
            pdf = pd.concat([f[kind] for f in per_file], ignore_index=True)
            schema = (train_frame_schema(pdf.columns) if kind == "train"
                      else array_frame_schema(pdf.columns[1:]))
            frames[kind] = spark.createDataFrame(pdf, schema=schema)
    return frames
