"""SXP@European-XFEL loader specifics (reference: sed/loader/sxp/loader.py).

SXP raw records pack SEVERAL logical trains into one stored row: the
per-record pulseId array is a sawtooth, and each drop of more than 1
marks a sub-train boundary (create_multi_index_per_electron,
sxp/loader.py:226-319). The demux ("train chopping") semantics mirrored
here exactly:

- ``num_trains``: zero the pulse array from the position of the
  ``num_trains``-th strictly-negative diff on (removes broken trailing hit
  copies; no-op when fewer resets exist) — sxp/loader.py:257-268.
- sub-train k spans hits (prev_end+1 .. end_k-1): the reference's
  ``slice(index, train_end)`` EXCLUDES the boundary hit itself, and hits
  after the last boundary are dropped — sxp/loader.py:269-280.
- logical trainId = stored trainId + k — sxp/loader.py:275.
- ``num_pulses``: pulse ids are taken modulo it BEFORE the ubid_offset
  subtraction — sxp/loader.py:277-279, 286-291.

Everything is a per-row array-expression pipeline (filter/slice/transform
over the hit arrays) feeding the shared flash assembly
(:func:`sed_binning_spark.loaders.flash.explode_per_electron`) — one
narrow projection + posexplode, no shuffle until the electronId window.
The raw files are read by
:func:`sed_binning_spark.loaders.channels.channel_frames`, the channel
extraction the flash loader uses too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_binning_spark.loaders.base import BaseLoader
from sed_binning_spark.loaders.channels import channel_frames
from sed_binning_spark.loaders.flash import FlashLoader, explode_per_electron


def _diff_lt(arr: Column, threshold: int) -> Column:
    """0-based diff positions j where arr[j+1] - arr[j] < threshold (the
    reference casts to int32 before differencing, sxp/loader.py:262,269)."""
    n = F.size(arr)
    # guard: Spark's sequence(0, stop) is DESCENDING for stop < 0, so short
    # arrays must map to an explicit empty position list
    positions = F.when(n >= 2, F.sequence(F.lit(0), n - 2)).otherwise(
        F.array().cast("array<int>"),
    )
    return F.filter(
        positions,
        # try_cast: a NaN-padded entry in the pulse array yields NULL (the
        # comparison then drops the position) — a plain cast would abort
        # the job under ANSI mode on the first padded record
        lambda j: (
            F.element_at(arr, j + 2).try_cast("int")
            - F.element_at(arr, j + 1).try_cast("int")
        ) < F.lit(threshold),
    )


def chop_trains(
    df_records: DataFrame,
    pulse_array_column: str = "pulseId",
    value_array_columns: Sequence[str] = (),
    train_id_column: str = "trainId",
    num_trains: int = 0,
    num_pulses: int = 0,
) -> DataFrame:
    """Demux stored records into logical sub-trains (the SXP train chop).

    Input: one row per stored record with ``train_id_column`` scalar and
    aligned hit arrays. Output: one row per LOGICAL train with the pulse
    and value arrays sliced to that train (boundary hit excluded, trailing
    partial train dropped), trainId incremented by the sub-train counter,
    and pulse ids reduced modulo ``num_pulses`` when set.
    """
    mib = F.col(pulse_array_column)

    # num_trains guard: zero the array from the num_trains-th reset on
    if num_trains:
        negpos = _diff_lt(mib, 0)
        cut = F.when(
            F.size(negpos) >= num_trains, F.element_at(negpos, num_trains),
        )
        mib = F.when(
            cut.isNotNull(),
            F.transform(mib, lambda x, i: F.when(i >= cut, F.lit(0).cast("double")).otherwise(x)),
        ).otherwise(mib)

    work = df_records.withColumn("__mib", mib)
    work = work.withColumn("__ends", _diff_lt(F.col("__mib"), -1))

    # Build EVERY sub-train's slices in one transform over the ends array,
    # while the record's full arrays are in scope exactly once, then explode
    # the nested result. Exploding first and slicing after (the previous
    # shape) duplicates the full record arrays into every sub-train row —
    # O(sub-trains x record size) per record, quadratic for sawtooth
    # records with thousands of wraps; here each hit is copied once.
    def _sub(end, k):
        # element_at is 1-based, so index k reads ends[k-1], the previous
        # boundary; when() evaluates branches lazily so k == 0 never
        # touches element_at(_, 0)
        start = F.when(k == F.lit(0), F.lit(0)).otherwise(
            F.element_at(F.col("__ends"), k) + 1,
        )
        length = F.greatest(end - start, F.lit(0))  # EXCLUDES the boundary hit
        pulses = F.slice(F.col("__mib"), start + 1, length)
        if num_pulses:
            pulses = F.transform(pulses, lambda p: p % F.lit(num_pulses))
        return F.struct(
            (F.col(train_id_column) + k).alias("__t"),
            pulses.alias("__p"),
            *[
                F.slice(F.col(c), start + 1, length).alias(c)
                for c in value_array_columns
            ],
        )

    out = work.select(
        F.explode(F.transform(F.col("__ends"), _sub)).alias("__s"),
    ).select(
        F.col("__s.__t").alias(train_id_column),
        F.col("__s.__p").alias(pulse_array_column),
        *[F.col(f"__s.{c}").alias(c) for c in value_array_columns],
    )
    return out


class SXPLoader(BaseLoader):
    """S7 orchestration: chop + shared flash assembly.

    The raw files are read by
    :func:`~sed_binning_spark.loaders.channels.channel_frames` with the
    channel specs of ``config["dataframe"]["channels"]`` (reference config
    shape: dataset_key/index_key), the SXP layout below by default; tests
    can still inject per-record frames via ``record_frames``.
    """

    name = "sxp"
    supported_file_types = ("h5",)

    def get_files_from_run_id(self, run_id, folders, extension="h5", **kwds):
        """SXP@XFEL naming: ``**/RAW-R{run:04d}-{daq}-S*.{ext}``
        (sxp/loader.py:107-167)."""
        import glob as _glob

        from sed_binning_spark.loaders.utils import natural_sort_key

        conf = self.config.get("dataframe", {})
        daq = kwds.pop("daq", conf.get("daq", "DA03"))
        prefixes = conf.get("stream_name_prefixes", {"DA03": "RAW-R"})
        postfixes = conf.get("stream_name_postfixes", {"DA03": "-DA03-"})
        # pad unconditionally (mpes does too): runs='45' and runs=45 must
        # both resolve RAW-R0045-*; an already-padded string is unchanged
        rid = str(run_id).zfill(4)
        if isinstance(folders, str):
            folders = [folders]
        pattern = f"{prefixes[daq]}{rid}{postfixes.get(daq, '')}*.{extension}"
        files: list[str] = []
        for folder in folders:
            files.extend(sorted(
                _glob.glob(f"{folder}/**/{pattern}", recursive=True),
                key=lambda p: natural_sort_key(p.rsplit("-", maxsplit=1)[-1]),
            ))
        if not files:
            raise FileNotFoundError(
                f"No files found for run {run_id} in directory {list(folders)}",
            )
        return files

    # SXP@XFEL MCP detector layout (matches the reference's sxp test config
    # channel specs: format/dataset_key/index_key;
    # tests/data/loader/sxp/config.yaml:46-79). dataframe.channels overrides.
    _MCP = "/INSTRUMENT/SXP_TR_XPES/DET/MCP_DETECTOR:output/data"
    DEFAULT_CHANNELS = {
        "pulseId": {"format": "per_electron",
                    "dataset_key": f"{_MCP}/starterCounter", "index_key": f"{_MCP}/trainId"},
        "dldPosX": {"format": "per_electron",
                    "dataset_key": f"{_MCP}/x", "index_key": f"{_MCP}/trainId"},
        "dldPosY": {"format": "per_electron",
                    "dataset_key": f"{_MCP}/y", "index_key": f"{_MCP}/trainId"},
        "dldTimeSteps": {"format": "per_electron",
                         "dataset_key": f"{_MCP}/t", "index_key": f"{_MCP}/trainId"},
        "timeStamp": {"format": "per_train",
                      "dataset_key": "/INDEX/timestamp", "index_key": "/INDEX/trainId"},
    }

    def read_dataframe(
        self,
        files=None,
        folders=None,
        runs=None,
        ftype: str = "h5",
        metadata: dict | None = None,
        collect_metadata: bool = False,
        record_frames: dict[str, DataFrame] | None = None,
        pulse_array_column: str = "pulseId",
        ubid_offset: int | None = None,
        num_trains: int | None = None,
        num_pulses: int | None = None,
        **kwds,
    ):
        """Chop the electron records into logical trains, then run the
        shared flash assembly (sxp/loader.py:800-893 delegates the same
        way). Read modes follow the uniform contract; ``record_frames``
        injects extracted channel frames directly."""
        if record_frames is not None:
            # injected-data path: record caller metadata like resolve_paths
            # does on the file-read path
            self.metadata = dict(metadata or {})
        else:
            if files is None and folders is None and runs is None:
                raise ValueError(
                    "provide files/folders/runs or inject record_frames",
                )
            paths = self.resolve_paths(
                files=files, folders=folders, runs=runs, ftype=ftype,
                metadata=metadata, **kwds,
            )
            record_frames = channel_frames(
                self.spark, paths,
                self.config.get("dataframe", {}).get("channels", self.DEFAULT_CHANNELS),
            )
        conf = self.config.get("dataframe", {})
        if ubid_offset is None:
            ubid_offset = conf.get("ubid_offset", 0)
        if num_trains is None:
            num_trains = conf.get("num_trains", 0)
        if num_pulses is None:
            num_pulses = conf.get("num_pulses", 0)

        if "electron" not in record_frames:
            raise ValueError("no per_electron channels configured")
        electron_src = record_frames["electron"]
        value_cols = [
            c for c in electron_src.columns
            if c not in ("trainId", pulse_array_column)
        ]
        chopped = chop_trains(
            electron_src,
            pulse_array_column,
            value_cols,
            num_trains=num_trains,
            num_pulses=num_pulses,
        )
        frames = dict(record_frames)
        frames["electron"] = chopped
        loader = FlashLoader(self.spark, self.config)
        electron, pulse, meta = loader.read_dataframe(
            train_frames=frames, ubid_offset=ubid_offset,
            pulse_array_column=pulse_array_column, **kwds,
        )
        # keep this loader's bookkeeping (resolve_paths metadata, caller
        # metadata=) — the fresh delegate starts with an empty dict
        self.metadata.update(meta)
        return electron, pulse, self.metadata


def explode_chopped_electrons(
    df_records: DataFrame,
    pulse_array_column: str = "pulseId",
    value_array_columns: Sequence[str] = (),
    ubid_offset: int = 0,
    num_trains: int = 0,
    num_pulses: int = 0,
) -> DataFrame:
    """chop_trains + per-electron explode in one call (the J3 sxp variant)."""
    chopped = chop_trains(
        df_records,
        pulse_array_column,
        value_array_columns,
        num_trains=num_trains,
        num_pulses=num_pulses,
    )
    return explode_per_electron(
        chopped, pulse_array_column, value_array_columns, ubid_offset=ubid_offset,
    )
