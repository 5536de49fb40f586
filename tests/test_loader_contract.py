"""Uniform loader contract tests — the engine's mirror of the reference's
tests/loader/test_loaders.py:78-314 (every loader x read mode): one
``read_dataframe(files=|folders=|runs=...)`` surface, ``self.files``
recording, precedence runs > folders > files, and the documented error
shapes. HDF5 byte-reads are environment-gated, so instrument-loader modes
are exercised down to the gate (path resolution is real; the byte-read
raises the documented ImportError) and end-to-end via injected data."""

from __future__ import annotations

import os

import numpy as np
import pytest

from sed_binning_spark.loaders import get_loader, read_dataframe
from sed_binning_spark.loaders.base import BaseLoader
from sed_binning_spark.loaders.interface import LOADER_REGISTRY

ALL_LOADERS = sorted(LOADER_REGISTRY)
READ_TYPES = ["one_file", "files", "one_folder", "folders"]


@pytest.fixture(scope="module")
def generic_fixture_dir(tmp_path_factory, spark):
    """Miniature parquet/csv/json fixture folder (the reference checks in
    real miniature instrument files; we derive ours from driver testdata)."""
    root = tmp_path_factory.mktemp("generic_fixtures")
    df = spark.range(50).selectExpr("id", "id * 2.0 AS value")
    for i in range(2):
        part = df.where((df.id % 2) == i).coalesce(1)
        part.write.mode("overwrite").parquet(str(root / f"pq_{i}.parquet"))
        part.write.mode("overwrite").option("header", "true").csv(str(root / f"c_{i}.csv"))
        part.write.mode("overwrite").json(str(root / f"j_{i}.json"))
    # single-file layout per format (spark dirs are fine as "files" too)
    return str(root)


@pytest.mark.parametrize("loader_name", ALL_LOADERS)
def test_loaders_are_children_of_base_loader(loader_name, spark):
    loader = get_loader(loader_name, spark)
    assert isinstance(loader, BaseLoader)
    assert callable(loader.read_dataframe)
    assert hasattr(loader, "files")
    assert loader.supported_file_types


def test_get_loader_unknown_name_lists_available(spark):
    with pytest.raises(ValueError, match="Available loaders"):
        get_loader("nope", spark)


@pytest.mark.parametrize("read_type", READ_TYPES)
@pytest.mark.parametrize("ftype", ["parquet", "csv", "json"])
def test_generic_loader_read_modes(read_type, ftype, generic_fixture_dir, spark):
    prefix = {"parquet": "pq", "csv": "c", "json": "j"}[ftype]
    entries = sorted(
        os.path.join(generic_fixture_dir, d)
        for d in os.listdir(generic_fixture_dir) if d.startswith(prefix)
    )
    loader = get_loader("generic", spark)
    kwargs = {
        "one_file": {"files": entries[0]},
        "files": {"files": entries},
        # spark-written "files" are directories; point folder modes at the
        # parent with the matching extension in the entry names
        "one_folder": {"folders": generic_fixture_dir},
        "folders": {"folders": [generic_fixture_dir]},
    }[read_type]
    df, timed, meta = loader.read_dataframe(ftype=ftype, **kwargs)
    expected_files = 1 if read_type == "one_file" else 2
    assert len(loader.files) == expected_files
    assert timed is None
    assert meta["file_statistics"]["num_files"] == expected_files
    got = df.count()
    assert got == (25 if read_type == "one_file" else 50)
    # every loaded row keeps the engine bookkeeping columns
    assert {"file_id", "row_id"} <= set(df.columns)


def test_generic_loader_errors(spark):
    loader = get_loader("generic", spark)
    with pytest.raises(ValueError, match="folder, file paths, or runs"):
        loader.read_dataframe()
    with pytest.raises(ValueError, match="Unsupported file type"):
        loader.read_dataframe(files=["x.h5"], ftype="h5")
    with pytest.raises(NotImplementedError, match="run-id"):
        loader.read_dataframe(runs=[1], folders="/tmp", ftype="parquet")
    with pytest.raises(FileNotFoundError, match="No valid files"):
        loader.read_dataframe(folders="/nonexistent_dir_xyz", ftype="parquet")


@pytest.fixture()
def instrument_tree(tmp_path):
    """Dummy instrument-file layouts for the three facility naming schemes
    (content never read — path resolution is the unit under test)."""
    mpes = tmp_path / "mpes"
    mpes.mkdir()
    for name in ["Scan0030_1.h5", "Scan0030_2.h5", "Scan0031_1.h5"]:
        (mpes / name).write_bytes(b"")
    flash = tmp_path / "flash"
    flash.mkdir()
    for name in [
        "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5",
        "FLASH1_USER3_stream_2_run43878_file2_20230130T153807.2.h5",
        "FLASH1_USER3_stream_2_run43879_file1_20230130T153807.1.h5",
    ]:
        (flash / name).write_bytes(b"")
    sxp = tmp_path / "sxp" / "r0016"
    sxp.mkdir(parents=True)
    for name in ["RAW-R0016-DA03-S00000.h5", "RAW-R0016-DA03-S00001.h5"]:
        (sxp / name).write_bytes(b"")
    return tmp_path


@pytest.mark.parametrize(
    ("loader_name", "subdir", "run", "expected"),
    [
        ("mpes", "mpes", 30, 2),
        ("flash", "flash", 43878, 2),
        ("sxp", "sxp", 16, 2),
    ],
)
def test_instrument_run_resolution(loader_name, subdir, run, expected, instrument_tree, spark):
    """one_run / runs modes resolve the facility naming schemes."""
    loader = get_loader(loader_name, spark)
    folder = str(instrument_tree / subdir)
    paths = loader.resolve_paths(runs=run, folders=folder)
    assert len(paths) == expected
    assert loader.files == paths
    assert loader.runs == [run]
    both = loader.resolve_paths(runs=[run], folders=[folder])
    assert both == paths
    with pytest.raises(FileNotFoundError, match="No files found for run"):
        loader.resolve_paths(runs=9999, folders=folder)
    # full read_dataframe reaches the HDF5 parser (which rejects the dummy
    # zero-byte files), not a path error
    from sed_binning_spark.io.hdf5_read import UnsupportedHDF5

    with pytest.raises(UnsupportedHDF5, match="not an HDF5 file"):
        loader.read_dataframe(runs=run, folders=folder)


@pytest.mark.parametrize("loader_name", ["mpes", "flash", "sxp"])
@pytest.mark.parametrize("read_type", READ_TYPES)
def test_instrument_file_and_folder_modes(loader_name, read_type, instrument_tree, spark):
    loader = get_loader(loader_name, spark)
    folder = str(instrument_tree / {"mpes": "mpes", "flash": "flash", "sxp": "sxp/r0016"}[loader_name])
    all_files = sorted(
        os.path.join(folder, f) for f in os.listdir(folder) if f.endswith(".h5")
    )
    kwargs = {
        "one_file": {"files": all_files[0]},
        "files": {"files": all_files},
        "one_folder": {"folders": folder},
        "folders": {"folders": [folder]},
    }[read_type]
    paths = loader.resolve_paths(**kwargs)
    expected = 1 if read_type == "one_file" else len(all_files)
    assert len(paths) == expected
    assert paths == sorted(paths)
    assert loader.files == paths


def test_run_search_folders_from_config(instrument_tree, spark):
    """runs without folders falls back to config core.paths.data_raw_dir
    (the reference's configured raw-data location)."""
    loader = get_loader(
        "mpes", spark,
        config={"core": {"paths": {"data_raw_dir": str(instrument_tree / "mpes")}}},
    )
    assert len(loader.resolve_paths(runs=30)) == 2
    bare = get_loader("mpes", spark)
    with pytest.raises(ValueError, match="data_raw_dir"):
        bare.resolve_paths(runs=30)


def test_interface_one_call_form(generic_fixture_dir, spark):
    df, timed, meta = read_dataframe(
        spark, loader="generic", folders=generic_fixture_dir, ftype="parquet",
    )
    assert df.count() == 50 and timed is None


def test_injected_data_still_flows_through_uniform_surface(spark):
    """The injected-payload escape hatches coexist with the uniform modes:
    read_dataframe(files_data=...) needs no paths and returns the triple."""
    loader = get_loader("mpes", spark)
    streams = {"X": np.arange(10.0), "Y": np.arange(10.0) * 2}
    df, timed, meta = loader.read_dataframe(files_data=[{"streams": streams}])
    assert df.count() == 10
    assert meta["file_statistics"]["num_files"] == 1
