"""SXP train-chopping demux tests (S7) against the reference's slice
semantics (sed/loader/sxp/loader.py:226-319): sawtooth pulse arrays are
chopped at >1 drops, the boundary hit itself and the trailing partial
train are dropped, trainId increments per sub-train, num_pulses wraps the
pulse ids, num_trains zeroes broken trailing copies."""

from __future__ import annotations

import numpy as np
import pytest

from sed_binning_spark.loaders.sxp import (
    SXPLoader,
    chop_trains,
    explode_chopped_electrons,
)


@pytest.fixture(scope="module")
def records(spark):
    # record 100: three full sub-trains of 4 hits (pulses 0,1,2,3), one
    # trailing partial train (pulses 0,1) that must be dropped.
    # record 200: two sub-trains + a "broken trailing copy" region.
    rows = [
        (
            100,
            [0.0, 1.0, 2.0, 3.0] * 3 + [0.0, 1.0],
            [float(i) for i in range(14)],
        ),
        (
            200,
            [0.0, 2.0, 3.0, 5.0] * 2 + [0.0, 2.0],
            [float(100 + i) for i in range(10)],
        ),
    ]
    return spark.createDataFrame(
        rows, "trainId long, pulseId array<double>, hitval array<double>",
    )


def test_chop_trains_boundaries_and_slices(records):
    out = chop_trains(records, "pulseId", ["hitval"]).toPandas()
    out = out.sort_values("trainId").reset_index(drop=True)
    # record 100: boundaries at hit 3,7,11 -> trains 100,101,102
    # sub-train k spans [prev_end+1, end) so each keeps pulses 0,1,2 (hit 3
    # at the boundary is dropped); the trailing [0,1] never appears
    r100 = out[out.trainId.between(100, 102)]
    assert list(r100.trainId) == [100, 101, 102]
    assert all(list(p) == [0.0, 1.0, 2.0] for p in r100.pulseId)
    assert list(r100.hitval.iloc[0]) == [0.0, 1.0, 2.0]
    assert list(r100.hitval.iloc[1]) == [4.0, 5.0, 6.0]
    # record 200: boundaries at 3 and 7 -> trains 200, 201
    r200 = out[out.trainId >= 200]
    assert list(r200.trainId) == [200, 201]
    assert all(list(p) == [0.0, 2.0, 3.0] for p in r200.pulseId)


def test_chop_trains_num_pulses_mod(records):
    out = chop_trains(records, "pulseId", ["hitval"], num_pulses=3).toPandas()
    r200 = out[out.trainId == 200]
    # [0, 2, 3] % 3 = [0, 2, 0]
    assert list(r200.pulseId.iloc[0]) == [0.0, 2.0, 0.0]


def test_chop_trains_num_trains_truncation(spark):
    """num_trains=1: the pulse array is zeroed from the 1st reset on —
    leaving exactly one boundary (the high->0 transition), so only the
    first sub-train survives."""
    df = spark.createDataFrame(
        [(7, [0.0, 2.0, 4.0, 0.0, 2.0, 4.0], [0.0, 1.0, 2.0, 3.0, 4.0, 5.0])],
        "trainId long, pulseId array<double>, hitval array<double>",
    )
    out = chop_trains(df, "pulseId", ["hitval"], num_trains=1).toPandas()
    assert list(out.trainId) == [7]
    # reference loop on this input: cut at diff-index 2 -> mib [0,2,0,0,0,0],
    # boundary at 1, slice(0,1) keeps only hit 0
    assert list(out.pulseId.iloc[0]) == [0.0]
    # without the guard the second sawtooth yields a second train
    out2 = chop_trains(df, "pulseId", ["hitval"]).toPandas()
    assert len(out2) == 1  # trailing train still partial (no closing reset)


def test_explode_chopped_electron_ids(records):
    out = explode_chopped_electrons(
        records, "pulseId", ["hitval"], num_pulses=3,
    ).toPandas()
    r200 = out[out.trainId == 200].sort_values(["pulseId", "electronId"])
    # pulses [0,2,0]: pulse 0 has electrons 0,1 (hit order), pulse 2 has 0
    assert list(r200.pulseId) == [0, 0, 2]
    assert list(r200.electronId) == [0, 1, 0]
    assert list(r200.hitval) == [100.0, 102.0, 101.0]


def test_sxp_loader_end_to_end(spark, records):
    loader = SXPLoader(spark, config={"dataframe": {
        "ubid_offset": 0, "num_pulses": 3,
    }})
    electron, pulse, meta = loader.read_dataframe(
        record_frames={"electron": records},
        per_electron_columns=["hitval"],
    )
    pdf = electron.toPandas()
    assert set(pdf.trainId) == {100, 101, 102, 200, 201}
    assert pdf.groupby("trainId").size().loc[100] == 3
    assert meta["ubid_offset"] == 0


def test_run_id_padding_consistent_for_str_and_int(spark, tmp_path):
    """runs='16' and runs=16 must resolve the same RAW-R0016-* files."""
    from sed_binning_spark.loaders.sxp import SXPLoader

    (tmp_path / "RAW-R0016-DA03-S00000.h5").write_bytes(b"")
    loader = SXPLoader(spark)
    for run in (16, "16", "0016"):
        files = loader.get_files_from_run_id(run, [str(tmp_path)])
        assert len(files) == 1 and files[0].endswith("RAW-R0016-DA03-S00000.h5")


def test_sxp_per_pulse_channels_extract(spark, tmp_path):
    """A per_pulse channel in the sxp config must extract into a 'pulse'
    frame, not crash with 'unknown channel format'."""
    from sed_binning_spark.io.hdf5_write import H5Writer
    from sed_binning_spark.loaders.channels import channel_frames

    w = H5Writer()
    w.add_dataset("/idx", np.arange(3, dtype="<i8"))
    w.add_dataset("/vals", np.arange(6, dtype="<f8").reshape(3, 2))
    p = tmp_path / "r.h5"
    w.write(str(p))
    frames = channel_frames(spark, [str(p)], {
        "gmd": {"format": "per_pulse", "index_key": "/idx", "dataset_key": "/vals"},
    })
    pdf = frames["pulse"].toPandas()
    assert list(pdf["trainId"]) == [0, 1, 2]
    assert list(pdf["gmd"][0]) == [0.0, 1.0]
