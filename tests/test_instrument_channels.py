"""flash and sxp reads of raw HDF5 files, end to end, on small files
written with the built-in HDF5 writer in the two facilities' layouts.

The FLASH files carry the DLD detector as one (train, slice, hit) array
addressed by ``group_name``/``slice`` (NaN-padded hit arrays, a ``dldAux``
per-pulse vector with named slices, a per-train ``timeStamp``), plus a
per-pulse and a per-train channel addressed by ``dataset_key``/
``index_key``; the per-train one repeats a train readback. The two files
cover different train ranges. The SXP files carry the MCP records and
the per-train index in the facility's layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sed_binning_spark.io.hdf5_write import H5Writer
from sed_binning_spark.loaders.flash import FlashLoader
from sed_binning_spark.loaders.sxp import SXPLoader

DLD = "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/"
TIMING = "/uncategorised/FLASH.DIAG/TIMINGINFO/TIME1.BUNCH_FIRST_INDEX.1/"
HITS, PULSES = 8, 3

FLASH_CHANNELS = {
    "dldPosY": {"format": "per_electron", "group_name": DLD, "slice": 0},
    "dldPosX": {"format": "per_electron", "group_name": DLD, "slice": 1},
    "pulseId": {"format": "per_electron", "group_name": DLD, "slice": 2},
    "dldTimeSteps": {"format": "per_electron", "group_name": DLD, "slice": 3},
    "dldAux": {"format": "per_pulse", "group_name": DLD, "slice": 4,
               "dldAuxChannels": {"sampleBias": 0, "tofVoltage": 1}},
    "gmdTunnel": {"format": "per_pulse",
                  "dataset_key": "/gmd/value", "index_key": "/gmd/index"},
    "timeStamp": {"format": "per_train", "group_name": TIMING},
    "delayStage": {"format": "per_train",
                   "dataset_key": "/delay/value", "index_key": "/delay/index"},
}


def _flash_arrays(first_train: int, seed: int) -> dict:
    """One file's trains: per-hit detector values, NaN-padded past each
    train's hit count, and the per-pulse/per-train channels."""
    rng = np.random.default_rng(seed)
    trains = np.arange(first_train, first_train + 4, dtype=np.int64)
    dld = np.full((len(trains), 5, HITS), np.nan)
    for i in range(len(trains)):
        n = int(rng.integers(2, HITS))       # hits after n are NaN padding
        dld[i, 0, :n] = rng.uniform(0, 2048, n)
        dld[i, 1, :n] = rng.uniform(0, 2048, n)
        dld[i, 2, :n] = np.sort(rng.integers(0, PULSES, n))
        dld[i, 3, :n] = rng.integers(60000, 120000, n)
        dld[i, 4, :] = rng.uniform(-10, 10, HITS)   # aux vector, full length
    # a repeated readback of the second train: the first reading counts
    delay_idx = np.insert(trains, 2, trains[1])
    return {
        "trains": trains,
        "dld": dld,
        "gmd": rng.uniform(1e-3, 5e-3, (len(trains), PULSES)),
        "time": 1.7e9 + trains.astype(float),
        "delay_idx": delay_idx,
        "delay": rng.uniform(-1, 1, len(delay_idx)),
    }


def _write_flash(path, a) -> str:
    w = H5Writer()
    w.add_dataset(DLD + "index", a["trains"])
    w.add_dataset(DLD + "value", a["dld"])
    w.add_dataset(TIMING + "index", a["trains"])
    w.add_dataset(TIMING + "time", a["time"].reshape(-1, 1))
    w.add_dataset("/gmd/index", a["trains"])
    w.add_dataset("/gmd/value", a["gmd"])
    w.add_dataset("/delay/index", a["delay_idx"])
    w.add_dataset("/delay/value", a["delay"])
    w.write(str(path))
    return str(path)


@pytest.fixture(scope="module")
def flash_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("flash_raw")
    arrays = [_flash_arrays(100, 1), _flash_arrays(200, 2)]
    paths = [
        _write_flash(d / f"FLASH1_USER3_stream_2_run1_file{i}.h5", a)
        for i, a in enumerate(arrays, start=1)
    ]
    return paths, arrays


def _expected_electrons(arrays) -> pd.DataFrame:
    """The electron rows the read must give, built from the arrays."""
    rows = []
    for a in arrays:
        first_delay = {}
        for t, v in zip(a["delay_idx"], a["delay"]):
            first_delay.setdefault(int(t), v)
        for i, t in enumerate(a["trains"]):
            seen: dict[int, int] = {}
            for j in range(HITS):
                pulse = a["dld"][i, 2, j]
                if np.isnan(pulse):
                    continue
                p = int(pulse)
                seen[p] = seen.get(p, -1) + 1
                rows.append({
                    "trainId": int(t), "pulseId": p, "electronId": seen[p],
                    "dldPosX": a["dld"][i, 1, j], "dldPosY": a["dld"][i, 0, j],
                    "dldTimeSteps": a["dld"][i, 3, j],
                    "gmdTunnel": a["gmd"][i, p],
                    "sampleBias": a["dld"][i, 4, 0],
                    "tofVoltage": a["dld"][i, 4, 1],
                    "timeStamp": a["time"][i],
                    "delayStage": first_delay[int(t)],
                })
    return pd.DataFrame(rows)


def _sorted(df, keys=("trainId", "pulseId", "electronId")) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(keys), na_position="first").reset_index(drop=True)


def _flash_config(parquet_dir=None, channels=FLASH_CHANNELS) -> dict:
    config = {"dataframe": {"channels": channels}}
    if parquet_dir is not None:
        config["core"] = {"paths": {"data_parquet_dir": str(parquet_dir)}}
    return config


def test_flash_read_gives_the_arrays(spark, flash_files):
    paths, arrays = flash_files
    electron, pulse, _ = FlashLoader(
        spark, config=_flash_config(),
    ).read_dataframe(files=paths)
    want = _expected_electrons(arrays)
    got = _sorted(electron)[sorted(want.columns)]
    pd.testing.assert_frame_equal(
        got, want[sorted(want.columns)], check_dtype=False,
    )
    # one pulse row per (train, pulse) of the gmd channel
    assert pulse.count() == sum(len(a["trains"]) * PULSES for a in arrays)


def test_flash_buffered_read_equals_unbuffered(spark, flash_files, tmp_path, monkeypatch):
    """The parquet buffers give the rows of the direct read; a second
    buffered read serves from them without opening any HDF5 file, and a
    changed channel config re-extracts."""
    from sed_binning_spark.io import hdf5_read

    paths, _ = flash_files
    e0, p0, _ = FlashLoader(spark, config=_flash_config()).read_dataframe(files=paths)
    e1, p1, _ = FlashLoader(
        spark, config=_flash_config(tmp_path),
    ).read_dataframe(files=paths)
    assert any(p.name.endswith(".buffer.parquet") for p in tmp_path.iterdir())
    want_e, want_p = _sorted(e0), _sorted(p0)
    pd.testing.assert_frame_equal(_sorted(e1), want_e)
    pd.testing.assert_frame_equal(_sorted(p1), want_p)

    with monkeypatch.context() as m:
        def _no_open(self, path):
            raise AssertionError(f"buffered read opened {path}")

        m.setattr(hdf5_read.H5File, "__init__", _no_open)
        e2, p2, _ = FlashLoader(
            spark, config=_flash_config(tmp_path),
        ).read_dataframe(files=paths)
        pd.testing.assert_frame_equal(_sorted(e2), want_e)
        pd.testing.assert_frame_equal(_sorted(p2), want_p)

    trimmed = {k: v for k, v in FLASH_CHANNELS.items() if k != "dldTimeSteps"}
    e3, _, _ = FlashLoader(
        spark, config=_flash_config(tmp_path, trimmed),
    ).read_dataframe(files=paths)
    assert "dldTimeSteps" not in e3.columns
    assert "dldPosX" in e3.columns
    assert e3.count() == len(want_e)


MCP = "/INSTRUMENT/SXP_TR_XPES/DET/MCP_DETECTOR:output/data"


def _sxp_arrays(first_train: int, seed: int) -> dict:
    """Stored records whose pulse counter saws 0..3 several times per
    record (one logical train per tooth), NaN-padded at the end."""
    rng = np.random.default_rng(seed)
    trains = np.arange(first_train, first_train + 3, dtype=np.int64)
    pulse = np.full((len(trains), 14), np.nan)
    pulse[:, :12] = np.tile([0.0, 1.0, 2.0, 3.0], 3)
    pulse[1, 10:] = np.nan
    return {
        "trains": trains,
        "pulseId": pulse,
        "dldPosX": rng.uniform(0, 2048, pulse.shape),
        "dldPosY": rng.uniform(0, 2048, pulse.shape),
        "dldTimeSteps": rng.integers(60000, 120000, pulse.shape).astype(float),
        "timeStamp": 1.7e9 + trains.astype(float),
    }


def _write_sxp(path, a) -> str:
    w = H5Writer()
    w.add_dataset(f"{MCP}/trainId", a["trains"])
    for name, key in (("pulseId", "starterCounter"), ("dldPosX", "x"),
                      ("dldPosY", "y"), ("dldTimeSteps", "t")):
        w.add_dataset(f"{MCP}/{key}", a[name])
    w.add_dataset("/INDEX/trainId", a["trains"])
    w.add_dataset("/INDEX/timestamp", a["timeStamp"])
    w.write(str(path))
    return str(path)


def test_sxp_files_equal_record_frames(spark, tmp_path):
    arrays = [_sxp_arrays(10, 3), _sxp_arrays(50, 4)]
    paths = [_write_sxp(tmp_path / f"RAW-R0001-DA03-S0000{i}.h5", a)
             for i, a in enumerate(arrays)]
    names = ["pulseId", "dldPosX", "dldPosY", "dldTimeSteps"]
    electron_pdf = pd.DataFrame({
        "trainId": np.concatenate([a["trains"] for a in arrays]),
        **{n: [row for a in arrays for row in a[n]] for n in names},
    })
    train_pdf = pd.DataFrame({
        "trainId": np.concatenate([a["trains"] for a in arrays]),
        "timeStamp": np.concatenate([a["timeStamp"] for a in arrays]),
    })
    record_frames = {
        "electron": spark.createDataFrame(
            electron_pdf,
            "trainId long, " + ", ".join(f"{n} array<double>" for n in names),
        ),
        "train": spark.createDataFrame(train_pdf, "trainId long, timeStamp double"),
    }
    e_files, p_files, _ = SXPLoader(spark).read_dataframe(files=paths)
    e_inj, p_inj, _ = SXPLoader(spark).read_dataframe(record_frames=record_frames)
    got = _sorted(e_files)
    pd.testing.assert_frame_equal(got, _sorted(e_inj))
    pd.testing.assert_frame_equal(_sorted(p_files), _sorted(p_inj))
    # 3 full teeth per record: the last is trailing and dropped, and the
    # boundary hit of each kept tooth is excluded -> 2 x 3 hits a record
    assert len(got) == 2 * 3 * 3 * len(arrays)
    stored = got["trainId"].isin(train_pdf["trainId"])
    assert got.loc[stored, "timeStamp"].notna().all()


_MISSPELLED = {**FLASH_CHANNELS,
               "dldPosX": {**FLASH_CHANNELS["dldPosX"], "format": "per_electorn"}}
_NO_ELECTRON = {k: v for k, v in FLASH_CHANNELS.items()
                if v["format"] != "per_electron"}


@pytest.mark.parametrize("route", ["flash", "flash_buffered", "sxp"])
@pytest.mark.parametrize("channels, match", [
    (_MISSPELLED, "dldPosX"),
    (_NO_ELECTRON, "no per_electron channels"),
], ids=["misspelled_format", "no_per_electron"])
def test_bad_channel_config_raises(spark, flash_files, tmp_path, route, channels, match):
    """A misspelled channel format names the channel, and a config without
    per_electron channels says so, on every read path, instead of dropping
    the channel or failing on a missing frame."""
    paths, _ = flash_files
    if route == "sxp":
        loader = SXPLoader(spark, config={"dataframe": {"channels": channels}})
    else:
        loader = FlashLoader(spark, config=_flash_config(
            tmp_path if route == "flash_buffered" else None, channels,
        ))
    with pytest.raises(ValueError, match=match):
        loader.read_dataframe(files=paths)
