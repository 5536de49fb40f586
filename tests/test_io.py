"""IO round-trip tests (reference tests/test_io.py pattern: save + load
equality on synthetic cubes)."""

from __future__ import annotations

import numpy as np
import pytest

from sed_binning_spark.cube import Cube
from sed_binning_spark.io import load_npz, load_tiff, save, to_npz, to_tiff
from sed_binning_spark.io.nexus import nexus_payload, to_nexus
from sed_binning_spark.io.tiff import _imagej_axis_order


def _cube(shape, dims):
    rng = np.random.default_rng(13)
    coords = {d: np.linspace(0, 1, n) for d, n in zip(dims, shape)}
    return Cube(
        rng.uniform(size=shape).astype(np.float32), coords, dims,
        attrs={"sample": "test", "nested": {"a": 1}},
    )


@pytest.mark.parametrize("shape,dims", [
    ((16, 8), ("X", "Y")),
    ((4, 16, 8), ("energy", "X", "Y")),
    ((3, 4, 16, 8), ("delay", "energy", "X", "Y")),
])
def test_tiff_roundtrip(tmp_path, shape, dims):
    c = _cube(shape, dims)
    path = tmp_path / "cube.tiff"
    to_tiff(c, path)
    back = load_tiff(path)
    order = _imagej_axis_order(c.dims)
    expected = np.transpose(c.data, order)
    np.testing.assert_array_equal(back.reshape(expected.shape), expected)


def test_tiff_imagej_axis_reorder(tmp_path):
    """x/y go last regardless of input order (sed/io/tiff.py:100-142)."""
    c = _cube((8, 16, 4), ("X", "Y", "energy"))
    order = _imagej_axis_order(c.dims)
    assert [c.dims[i] for i in order] == ["energy", "Y", "X"]
    path = tmp_path / "cube.tif"
    to_tiff(c, path)
    # the reference always normalizes the suffix to .tiff (sed/io/tiff.py:94)
    back = load_tiff(path.with_suffix(".tiff"))
    np.testing.assert_array_equal(back, np.transpose(c.data, order))
    with pytest.raises(ValueError, match="zero-length"):
        to_tiff(np.zeros((0, 4, 4)), tmp_path / "empty.tiff")


def test_tiff_rejects_1d(tmp_path):
    with pytest.raises(ValueError, match="2-D"):
        to_tiff(np.zeros(5), tmp_path / "x.tiff")


def test_npz_roundtrip(tmp_path):
    c = _cube((5, 7, 3), ("kx", "ky", "energy"))
    path = tmp_path / "cube.npz"
    to_npz(c, path)
    back = load_npz(path)
    assert back.dims == c.dims
    np.testing.assert_array_equal(back.data, c.data)
    for d in c.dims:
        np.testing.assert_allclose(back.coords[d], c.coords[d])
    assert back.attrs["sample"] == "test"
    assert back.attrs["nested"] == {"a": 1}


def test_save_dispatch(tmp_path):
    c = _cube((6, 4), ("X", "Y"))
    save(c, tmp_path / "a.tiff")
    save(c, tmp_path / "a.npz")
    assert (tmp_path / "a.tiff").exists() and (tmp_path / "a.npz").exists()
    with pytest.raises(NotImplementedError, match="Unrecognized"):
        save(c, tmp_path / "a.bogus")


def test_h5_round_trip(tmp_path):
    """K2 .h5 round trip on the engine's own classic-format writer and
    reader: data, axis names/coords, and the recursive metadata tree
    survive."""
    c = _cube((4, 4), ("X", "Y"))
    c.attrs.update({"jitter": {"amplitude": 0.5, "mode": "uniform"}, "n": 3})
    save(c, tmp_path / "a.h5")
    from sed_binning_spark.io import load_h5

    back = load_h5(tmp_path / "a.h5")
    np.testing.assert_array_equal(back.data, c.data)
    assert back.dims == c.dims
    for d in c.dims:
        np.testing.assert_array_equal(back.coords[d], c.coords[d])
    assert back.attrs["jitter"]["mode"] == "uniform"
    assert float(back.attrs["jitter"]["amplitude"]) == 0.5


def test_nexus_payload_and_basic_file(tmp_path):
    c = _cube((4, 4), ("kx", "ky"))
    payload = nexus_payload(c, input_files=["a.h5"])
    assert payload["nxdl"] == "NXmpes" and payload["objects"][0] is c
    # without pynxtools a structural NXmpes subset is written directly
    to_nexus(c, tmp_path / "a.nxs")
    from sed_binning_spark.io.hdf5_read import H5File

    f = H5File(str(tmp_path / "a.nxs"))
    assert f.attrs("/entry")["NX_class"] == "NXentry"
    d = f.attrs("/entry/data")
    assert d["signal"] == "data" and list(d["axes"]) == ["kx", "ky"]
    np.testing.assert_array_equal(f.read("/entry/data/data"), c.data)
    np.testing.assert_array_equal(f.read("/entry/data/kx"), c.coords["kx"])


# ----------------------------------------------------- review regressions
def test_string_array_metadata_roundtrip(tmp_path):
    """A list-of-strings metadata value must survive to_h5/load_h5 intact
    on BOTH backends (the pure reader used to keep only element 0)."""
    from sed_binning_spark.cube import Cube
    from sed_binning_spark.io.hdf5 import load_h5, to_h5

    c = Cube(
        np.ones((2,), dtype=np.float32), {"x": np.array([0.0, 1.0])}, ("x",),
        attrs={"files": ["a.h5", "b.h5", "c.h5"], "one": "scalar"},
    )
    p = tmp_path / "meta.h5"
    to_h5(c, p)
    back = load_h5(p)
    assert list(back.attrs["files"]) == ["a.h5", "b.h5", "c.h5"]
    assert back.attrs["one"] == "scalar"


def test_loaded_cube_data_is_writable(tmp_path):
    """h5py read semantics: loaded arrays are writable — in-place math
    (acquisition-time normalization) must not crash on the pure backend."""
    from sed_binning_spark.cube import Cube
    from sed_binning_spark.io.hdf5 import load_h5, to_h5

    c = Cube(np.ones((3,), dtype=np.float32), {"x": np.arange(3.0)}, ("x",))
    p = tmp_path / "w.h5"
    to_h5(c, p)
    back = load_h5(p)
    back.data *= 2.0  # raises ValueError on a frombuffer view
    assert float(back.data.sum()) == 6.0


def test_tiff_reader_rejects_ifd_cycle_and_wrong_sample_layout(tmp_path):
    import struct

    from sed_binning_spark.io.tiff import _read_baseline_tiff, to_tiff
    from sed_binning_spark.cube import Cube

    c = Cube(np.ones((2, 2), dtype=np.float32),
             {"x": np.arange(2.0), "y": np.arange(2.0)}, ("x", "y"))
    p = tmp_path / "ok.tiff"
    to_tiff(c, p)
    buf = bytearray(p.read_bytes())
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n_ent,) = struct.unpack_from("<H", buf, ifd_off)
    # corrupt the next-IFD pointer to loop back to the first IFD
    struct.pack_into("<I", buf, ifd_off + 2 + 12 * n_ent, ifd_off)
    bad = tmp_path / "cycle.tiff"
    bad.write_bytes(bytes(buf))
    with pytest.raises(ValueError, match="cycle"):
        _read_baseline_tiff(bad)
    # rewrite BitsPerSample to 64: must be rejected, not misread as f4
    buf2 = bytearray(p.read_bytes())
    for i in range(n_ent):
        tag, typ, cnt, val = struct.unpack_from("<HHII", buf2, ifd_off + 2 + 12 * i)
        if tag == 258:
            struct.pack_into("<HHII", buf2, ifd_off + 2 + 12 * i, tag, typ, cnt, 64)
    bad2 = tmp_path / "f64.tiff"
    bad2.write_bytes(bytes(buf2))
    with pytest.raises(ValueError, match="float32"):
        _read_baseline_tiff(bad2)


def test_nexus_rejects_axis_named_data(tmp_path):
    from sed_binning_spark.cube import Cube
    from sed_binning_spark.io.nexus import _write_basic_nxmpes

    c = Cube(np.ones((2, 2), dtype=np.float32),
             {"data": np.arange(2.0), "y": np.arange(2.0)}, ("data", "y"))
    with pytest.raises(ValueError, match="collides"):
        _write_basic_nxmpes(c, tmp_path / "x.nxs", "NXmpes")
