"""Pure-Python HDF5 reader + instrument loaders against the reference's
REAL raw fixtures (the files its own loader tests read through h5py:
tests/loader/test_loaders.py:78-314). Gated on fixture presence."""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pytest

MPES_FX = "/root/reference/tests/data/loader/mpes/Scan0030_2.h5"
FLASH_FX = ("/root/reference/tests/data/loader/flash/"
            "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5")
SXP_FX = "/root/reference/tests/data/loader/sxp/RAW-R0016-DA03-S00000.h5"

needs = {
    "mpes": pytest.mark.skipif(not os.path.isfile(MPES_FX), reason="fixture absent"),
    "flash": pytest.mark.skipif(not os.path.isfile(FLASH_FX), reason="fixture absent"),
    "sxp": pytest.mark.skipif(not os.path.isfile(SXP_FX), reason="fixture absent"),
}


@needs["mpes"]
def test_h5file_reads_mpes_structures():
    from sed_binning_spark.io.hdf5_read import H5File

    f = H5File(MPES_FX)
    paths = f.visit()
    assert {"/Stream_0", "/Stream_2", "/msMarkers"} <= set(paths)
    s0 = f.read("/Stream_0")
    assert s0.shape == (297398,) and s0.dtype == np.uint16
    mm = f.read("/msMarkers")
    assert mm.shape == (4007,)
    assert np.all(np.diff(mm.astype(np.int64)) >= 0)          # monotone
    assert mm[-1] <= s0.size                                  # marks real rows
    # instrument attributes decode (stream alias + root metadata)
    assert f.attrs("/Stream_0")["Name"] == "X"
    assert f.attrs("/")["KTOF:Lens:Sample:V"] == pytest.approx(19.2996, abs=1e-3)


def test_h5file_rejects_non_hdf5(tmp_path):
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5

    p = tmp_path / "junk.h5"
    p.write_bytes(b"not hdf5 at all, sorry")
    with pytest.raises(UnsupportedHDF5, match="signature"):
        H5File(str(p))


@needs["mpes"]
def test_mpes_loader_reads_real_instrument_file(spark):
    """S4/S5 end-to-end on raw bytes: event table with instrument-named
    columns, synthesized per-event timestamps anchored at the file's
    FirstEventTimeStamp, and the ms-marker timed dataframe."""
    from sed_binning_spark.loaders.mpes import MpesLoader

    ev, timed, meta = MpesLoader(spark).read_dataframe(
        files=[MPES_FX], time_stamps=True,
    )
    assert {"X", "Y", "t", "ADC", "timeStamps"} <= set(ev.columns)
    assert ev.count() == 297398
    assert timed.count() == 4007
    assert meta["elapsed_time"] == pytest.approx(4.007)
    first = ev.orderBy("row_id").limit(1).collect()[0]
    # 2022-08-31T23:16:22.635+0200 -> epoch seconds
    assert first["timeStamps"] == pytest.approx(1661980582.635, abs=1e-3)


@needs["flash"]
def test_flash_loader_reads_real_instrument_file(spark):
    """S6 end-to-end on raw bytes: per-train DLD hit arrays explode to one
    row per electron with (trainId, pulseId, electronId) and the per-train
    timestamp joined on."""
    from sed_binning_spark.loaders.flash import FlashLoader

    electron, pulse, meta = FlashLoader(spark).read_dataframe(files=[FLASH_FX])
    assert {"trainId", "pulseId", "electronId", "dldPosX", "dldPosY",
            "dldTimeSteps", "timeStamp"} <= set(electron.columns)
    n = electron.count()
    assert n == 102400                       # 50 trains x 2048 hits, no NaNs
    assert electron.select("trainId").distinct().count() == 50
    # electronId is a running count within (trainId, pulseId)
    from pyspark.sql import functions as F

    g = electron.groupBy("trainId", "pulseId").agg(
        F.count(F.lit(1)).alias("n"), F.max("electronId").alias("mx"),
    )
    assert g.where(F.col("mx") != F.col("n") - 1).count() == 0


@needs["flash"]
def test_flash_buffer_cache_skips_reextraction(spark, tmp_path, monkeypatch):
    """S8: first read converts the raw file to parquet buffers; the second
    read serves entirely from them (the HDF5 is never re-opened — proven by
    breaking the extractor)."""
    from sed_binning_spark.loaders import flash
    from sed_binning_spark.loaders.flash import FlashLoader

    config = {"core": {"paths": {"data_parquet_dir": str(tmp_path)}}}
    first = FlashLoader(spark, config=config)
    e1, _, _ = first.read_dataframe(files=[FLASH_FX])
    n1 = e1.count()
    assert any(p.name.endswith(".buffer.parquet") for p in tmp_path.iterdir())

    second = FlashLoader(spark, config=config)
    monkeypatch.setattr(flash, "channel_frames", None)  # re-extraction would crash
    e2, _, _ = second.read_dataframe(files=[FLASH_FX])
    assert e2.count() == n1 == 102400


@needs["flash"]
def test_flash_loader_accepts_reference_facility_config(spark):
    """The reference's own facility config.yaml (channel specs with
    group_name/slice, dldAuxChannels, ubid_offset) drives this loader
    unchanged — a user can point their existing config at this engine."""
    import yaml

    conf = yaml.safe_load(
        open("/root/reference/tests/data/loader/flash/config.yaml"),
    )
    from sed_binning_spark.loaders.channels import channel_frames
    from sed_binning_spark.loaders.flash import FlashLoader

    loader = FlashLoader(spark, config={"dataframe": conf["dataframe"]})
    frames = channel_frames(spark, [FLASH_FX], conf["dataframe"]["channels"])
    assert set(frames) == {"electron", "pulse", "aux", "train"}
    assert set(frames["pulse"].columns) == {"trainId", "gmdTunnel"}
    assert set(frames["train"].columns) == {"trainId", "timeStamp", "delayStage"}

    electron, pulse, meta = loader.read_dataframe(
        files=[FLASH_FX], ubid_offset=conf["dataframe"]["ubid_offset"],
    )
    # config ubid_offset=5 shifts every pulseId down by 5
    from pyspark.sql import functions as F

    assert electron.agg(F.min("pulseId")).collect()[0][0] == -5
    # the dldAux vector split into the config's named scalar channels
    assert "sampleBias" in pulse.columns or "sampleBias" in electron.columns


@needs["sxp"]
def test_sxp_loader_reads_real_instrument_file(spark):
    """S7 end-to-end on raw bytes: MCP records chop into logical trains,
    then the shared flash assembly yields per-electron rows."""
    from sed_binning_spark.loaders.sxp import SXPLoader

    electron, pulse, meta = SXPLoader(
        spark, config={"dataframe": {"num_trains": 5}},
    ).read_dataframe(files=[SXP_FX])
    assert {"trainId", "pulseId", "electronId", "dldPosX", "dldPosY",
            "dldTimeSteps"} <= set(electron.columns)
    assert electron.count() > 1000
    assert electron.where("dldPosX IS NULL").count() == 0


def test_defilter_deflate_shuffle_fletcher():
    """Filter pipeline inversion on synthetic chunk bytes: deflate, the
    byte-shuffle transpose, fletcher32 trailer stripping, and the
    filter_mask skip bit (none of the checked-in fixtures compress, so
    this path needs direct coverage)."""
    import zlib

    from sed_binning_spark.io.hdf5_read import H5File

    values = np.arange(100, dtype="<i4")
    raw = values.tobytes()
    # shuffle (itemsize 4) then deflate, as libhdf5 applies them
    shuffled = (
        np.frombuffer(raw, dtype=np.uint8).reshape(-1, 4).T.tobytes()
    )
    stored = zlib.compress(shuffled)
    filters = [(2, [4]), (1, [6])]          # pipeline order: shuffle, deflate
    out = H5File._defilter(stored, filters, 0, 4)
    np.testing.assert_array_equal(np.frombuffer(out, dtype="<i4"), values)

    # fletcher32 after deflate: trailing checksum stripped before inflate
    filters3 = [(1, [6]), (3, [])]
    stored3 = zlib.compress(raw) + b"\x12\x34\x56\x78"
    out3 = H5File._defilter(stored3, filters3, 0, 4)
    np.testing.assert_array_equal(np.frombuffer(out3, dtype="<i4"), values)

    # filter_mask bit i skips filter i (here: deflate marked as skipped)
    out_skip = H5File._defilter(raw, [(1, [6])], 0b1, 4)
    assert out_skip == raw

    with pytest.raises(Exception, match="filter id 99"):
        H5File._defilter(raw, [(99, [])], 0, 4)


def test_parse_filter_pipeline_messages():
    """Filter-pipeline message decode, v1 (8-padded names, odd-client-data
    pad word) and v2 (unpadded)."""
    import struct

    from sed_binning_spark.io.hdf5_read import H5File

    # v1: deflate named "deflate" (7 chars -> padded to 8), 1 client value
    name = b"deflate\x00"
    v1 = struct.pack("<BB6x", 1, 1)
    v1 += struct.pack("<HHHH", 1, len(name), 1, 1) + name
    v1 += struct.pack("<I", 6) + b"\x00\x00\x00\x00"  # odd ncli -> pad word
    assert H5File._parse_filters(v1) == [(1, [6])]

    # v2 built-in filter (id < 256): per spec there is NO Name Length field
    v2 = struct.pack("<BB", 2, 1)
    v2 += struct.pack("<HHH", 2, 1, 1) + struct.pack("<I", 4)
    assert H5File._parse_filters(v2) == [(2, [4])]

    # v2 custom filter (id >= 256): Name Length present, name unpadded
    v2c = struct.pack("<BB", 2, 1)
    v2c += struct.pack("<HHHH", 300, 3, 1, 2) + b"xyz" + struct.pack("<II", 7, 9)
    assert H5File._parse_filters(v2c) == [(300, [7, 9])]


def test_v3_superblock_ohdr_compact_links(tmp_path):
    """'libver latest' family: v3 superblock, OHDR v2 object headers,
    compact link-message groups — hand-built byte-for-byte from the public
    format spec, since no HDF5 library exists here to generate one."""
    import struct

    from sed_binning_spark.io.hdf5_read import H5File

    def v2_msg(mtype, body):
        return struct.pack("<BHB", mtype, len(body), 0) + body

    def ohdr(messages):
        body = b"".join(messages)
        # libhdf5 convention: the chunk-0 size field counts MESSAGE bytes
        # only — the trailing 4-byte checksum is part of the header prefix
        chunk0 = len(body)
        assert chunk0 < 256
        return (b"OHDR" + struct.pack("<BBB", 2, 0, chunk0) + body
                + b"\x00\x00\x00\x00")

    values = np.array([1.5, -2.5, 3.0], dtype="<f8")
    buf = bytearray(48)  # v3 superblock placeholder
    data_addr = len(buf)
    buf += values.tobytes()

    # dataset object header (v2): dataspace v2 + IEEE f8 datatype + layout
    dspace = struct.pack("<BBBB", 2, 1, 0, 1) + struct.pack("<Q", values.size)
    dtype = (struct.pack("<B3BI", 0x11, 0x20, 63, 0, 8)
             + struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023))
    layout = struct.pack("<BBQQ", 3, 1, data_addr, values.nbytes)
    ds_addr = len(buf)
    buf += ohdr([v2_msg(0x01, dspace), v2_msg(0x03, dtype), v2_msg(0x08, layout)])

    # root group header: link info (compact) + one hard link "dset"
    link_info = struct.pack("<BB", 0, 0) + struct.pack("<QQ", 2**64 - 1, 2**64 - 1)
    name = b"dset"
    link = (struct.pack("<BB", 1, 0) + struct.pack("<B", len(name)) + name
            + struct.pack("<Q", ds_addr))
    root_addr = len(buf)
    buf += ohdr([v2_msg(0x02, link_info), v2_msg(0x06, link)])

    struct.pack_into("<8sBBBB", buf, 0, b"\x89HDF\r\n\x1a\n", 3, 8, 8, 0)
    struct.pack_into("<QQQQ", buf, 12, 0, 2**64 - 1, len(buf), root_addr)

    p = tmp_path / "latest.h5"
    p.write_bytes(bytes(buf))
    f = H5File(str(p))
    assert f.visit() == ["/dset"]
    np.testing.assert_array_equal(f.read("/dset"), values)


def test_h5_writer_reader_round_trip(tmp_path):
    """Writer -> reader round trip: nested groups, every supported dtype,
    scalar/array/string attributes, 0-d datasets."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    arrays = {
        "/a/f32": np.arange(24, dtype=np.float32).reshape(2, 3, 4),
        "/a/f64": np.linspace(0, 1, 7),
        "/a/i16": np.arange(-5, 5, dtype=np.int16),
        "/a/u64": np.arange(5, dtype=np.uint64),
        "/b/scalar": np.float64(2.5),
    }
    for p, v in arrays.items():
        w.add_dataset(p, v)
    w.add_attr("/a/f32", "name", "cube")
    w.add_attr("/a/f32", "coeffs", np.array([1.0, 2.0]))
    w.add_attr("/", "engine", "spark")
    path = str(tmp_path / "rt.h5")
    w.write(path)

    f = H5File(path)
    assert set(f.visit()) == set(arrays)
    for p, v in arrays.items():
        got = f.read(p)
        np.testing.assert_array_equal(got, v)
        assert got.dtype == np.asarray(v).dtype
    assert f.attrs("/a/f32")["name"] == "cube"
    np.testing.assert_array_equal(f.attrs("/a/f32")["coeffs"], [1.0, 2.0])
    assert f.attrs("/")["engine"] == "spark"


def test_h5_writer_many_children_snod_chunking(tmp_path):
    """>8 entries in one group forces multiple symbol-table nodes in the
    group B-tree; every child must still resolve."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    for i in range(23):
        w.add_dataset(f"/g/d{i:02d}", np.array([i], dtype=np.int32))
    path = str(tmp_path / "many.h5")
    w.write(path)
    f = H5File(path)
    assert len(f.visit()) == 23
    for i in range(23):
        np.testing.assert_array_equal(f.read(f"/g/d{i:02d}"), [i])


def test_h5_writer_btree_nodes_fit_advertised_sizes(tmp_path):
    """libhdf5 reads every SNOD/TREE node at the size the superblock
    advertises (leaf k=4 -> 328 B, internal k=16 -> 544 B) and rejects
    nodes with more than 2k entries — so the writer must pad nodes to full
    size, cap entries, and grow B-tree levels for wide groups."""
    import struct

    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import _SNOD_SIZE, _TREE_SIZE, H5Writer

    w = H5Writer()
    for i in range(300):  # 38 SNODs -> needs a 2-level B-tree
        w.add_dataset(f"/g/d{i:03d}", np.array([i], dtype=np.int32))
    path = str(tmp_path / "wide.h5")
    w.write(path)

    buf = open(path, "rb").read()
    n_tree = n_snod = 0
    levels = set()
    pos = 0
    while (pos := buf.find(b"TREE", pos)) != -1:
        level, entries = buf[pos + 5], struct.unpack_from("<H", buf, pos + 6)[0]
        assert entries <= 32, "TREE node exceeds 2k entries"
        assert pos + _TREE_SIZE <= len(buf), "TREE node truncated at EOF"
        levels.add(level)
        n_tree += 1
        pos += 4
    pos = 0
    while (pos := buf.find(b"SNOD", pos)) != -1:
        entries = struct.unpack_from("<H", buf, pos + 6)[0]
        assert entries <= 8, "SNOD exceeds 2k symbols"
        assert pos + _SNOD_SIZE <= len(buf), "SNOD truncated at EOF"
        n_snod += 1
        pos += 4
    assert n_snod >= 38 and n_tree >= 3   # 2 leaves + 1 internal for /g
    assert levels == {0, 1}               # the wide group grew a level

    f = H5File(path)
    assert len(f.visit()) == 300
    for i in (0, 137, 299):
        np.testing.assert_array_equal(f.read(f"/g/d{i:03d}"), [i])


def test_fill_value_parsing_and_background():
    """Fill-value messages (old 0x0004 / new 0x0005 v1-3) parse, and
    unwritten regions materialize the fill instead of silent zeros."""
    import struct

    from sed_binning_spark.io.hdf5_read import Dataset, Datatype, H5File

    fill8 = np.float64(-1.5).tobytes()
    # old-style: size + value
    assert H5File._parse_fill_value(0x0004, struct.pack("<I", 8) + fill8) == fill8
    # new v2: defined byte gates the size+value block
    assert H5File._parse_fill_value(
        0x0005, bytes([2, 2, 0, 1]) + struct.pack("<I", 8) + fill8,
    ) == fill8
    assert H5File._parse_fill_value(0x0005, bytes([2, 2, 0, 0])) is None
    # new v3: flag bit 5 marks a defined value
    assert H5File._parse_fill_value(
        0x0005, bytes([3, 0x20]) + struct.pack("<I", 8) + fill8,
    ) == fill8
    assert H5File._parse_fill_value(0x0005, bytes([3, 0x00])) is None

    ds = Dataset(shape=(3,), dtype=Datatype("float", 8, "<"),
                 layout="chunked", fill=fill8)
    np.testing.assert_array_equal(
        H5File._background(ds, np.dtype("<f8"), (3,)), [-1.5, -1.5, -1.5],
    )
    ds_nofill = Dataset(shape=(2,), dtype=Datatype("float", 8, "<"),
                        layout="chunked")
    np.testing.assert_array_equal(
        H5File._background(ds_nofill, np.dtype("<f8"), (2,)), [0.0, 0.0],
    )


def test_shared_message_flag_raises():
    """Flag bit 1 marks a SHARED message (a reference, not an inline
    definition) — parsing it inline would yield garbage, so it raises."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5

    f = H5File.__new__(H5File)  # _interpret_messages needs no file state
    with pytest.raises(UnsupportedHDF5, match="shared"):
        f._interpret_messages([(0x0003, b"\x03\x00\x00\x00\x08\x00\x00\x00", 0x02)])


def test_null_dataspace_attribute_reads_as_none(tmp_path):
    """h5py.Empty attributes (v2 NULL dataspace, no data) read as None and
    must not break the rest of the attribute dict."""
    import struct

    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import _datatype

    f = H5File.__new__(H5File)
    nb = b"empty\x00"
    dt = _datatype(np.dtype("<f8"))
    sp = bytes([2, 0, 0, 2])  # v2 dataspace, rank 0, type NULL
    body = struct.pack("<BxHHH", 1, len(nb), len(dt), len(sp))
    body += nb + b"\x00" * (-len(nb) % 8)
    body += dt + b"\x00" * (-len(dt) % 8)
    body += sp + b"\x00" * (-len(sp) % 8)
    name, value = f._parse_attribute(body)
    assert name == "empty" and value is None


def test_soft_links_resolve_and_guard(tmp_path):
    """Classic-format soft links (SNOD cache type 2, target path in the
    local heap): absolute and relative targets resolve through read(),
    visit() skips links (H5Ovisit semantics — targets list under their
    hard path), a dangling link raises KeyError only when FOLLOWED, and a
    link cycle raises UnsupportedHDF5 instead of recursing forever."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_dataset("/g/real", np.array([1.0, 2.0]))
    w.add_softlink("/g/alias", "/g/real")
    w.add_softlink("/g/rel", "real")
    w.add_softlink("/top", "/g")
    w.add_softlink("/g/dangling", "/nowhere")
    w.add_softlink("/g/loop_a", "/g/loop_b")
    w.add_softlink("/g/loop_b", "/g/loop_a")
    path = str(tmp_path / "soft.h5")
    w.write(path)
    f = H5File(path)
    assert f.visit() == ["/g/real"]
    np.testing.assert_array_equal(f.read("/g/alias"), [1.0, 2.0])
    np.testing.assert_array_equal(f.read("/g/rel"), [1.0, 2.0])
    # a link to a GROUP resolves mid-path
    np.testing.assert_array_equal(f.read("/top/real"), [1.0, 2.0])
    with pytest.raises(KeyError, match="nowhere"):
        f.read("/g/dangling")
    with pytest.raises(UnsupportedHDF5, match="chain too deep"):
        f.read("/g/loop_a")


def test_compound_dataset_round_trip(tmp_path):
    """Compound datatypes (the beamline-metadata table shape) surface as
    numpy structured dtypes, including array members and mixed widths;
    chunk-free contiguous layout, written by the engine's own writer."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    rec = np.zeros(5, dtype=[("ts", "<f8"), ("flag", "<i2"),
                             ("pos", "<f4", (3,)), ("tag", "S4")])
    rec["ts"] = np.arange(5) * 1.5
    rec["flag"] = [1, -2, 3, -4, 5]
    rec["pos"] = np.arange(15).reshape(5, 3)
    rec["tag"] = [b"a", b"bb", b"ccc", b"dddd", b""]
    w = H5Writer()
    w.add_dataset("/tbl/records", rec)
    path = str(tmp_path / "cmp.h5")
    w.write(path)
    got = H5File(path).read("/tbl/records")
    assert got.dtype.names == ("ts", "flag", "pos", "tag")
    for n in rec.dtype.names:
        np.testing.assert_array_equal(got[n], rec[n])


def test_enum_datatype_parses_to_base_integers():
    """Enum datatype messages (class 8) decode as their base integer type
    — spec-constructed v1 message (names padded to 8) over int16."""
    import struct

    from sed_binning_spark.io.hdf5_read import H5File

    base = struct.pack("<B3BI", 0x10, 0x08, 0, 0, 2) + struct.pack("<HH", 0, 16)
    names = b"LOW" + b"\x00" * 5 + b"HIGH" + b"\x00" * 4
    values = struct.pack("<hh", 0, 1)
    msg = struct.pack("<B3BI", 0x18, 2, 0, 0, 2) + base + names + values
    dt = H5File._parse_datatype(msg)
    assert dt.kind == "enum" and dt.np_dtype == np.dtype("<i2")


@needs["mpes"]
def test_extract_bias_from_real_file():
    from sed_binning_spark.calibration.fitting import extract_bias_h5

    vals = extract_bias_h5([MPES_FX], "@KTOF:Lens:Sample:V")
    np.testing.assert_allclose(vals, [19.3])


@needs["flash"]
def test_flash_buffer_cache_invalidated_by_config_change(spark, tmp_path, monkeypatch):
    """Buffers built under a different channel config must be re-extracted,
    not silently served without the newly configured columns."""
    from sed_binning_spark.loaders import flash
    from sed_binning_spark.loaders.flash import FlashLoader

    config = {"core": {"paths": {"data_parquet_dir": str(tmp_path)}}}
    first = FlashLoader(spark, config=config)
    first.read_dataframe(files=[FLASH_FX])

    # same config -> cache hit (extractor never called)
    cached = FlashLoader(spark, config=config)
    orig = flash.channel_frames
    monkeypatch.setattr(flash, "channel_frames", None)
    cached.read_dataframe(files=[FLASH_FX])

    # changed channel spec (one channel removed) -> fingerprint mismatch
    # -> re-extraction runs instead of serving the stale buffers
    from sed_binning_spark.loaders.flash import FlashLoader as FL

    trimmed = {k: v for k, v in FL.DEFAULT_CHANNELS.items() if k != "dldTimeSteps"}
    changed = FlashLoader(spark, config={
        **config,
        "dataframe": {"channels": trimmed},
    })
    calls = []
    monkeypatch.setattr(
        flash, "channel_frames",
        lambda spark, paths, ch: calls.append(paths) or orig(spark, paths, ch),
    )
    electron, _, _ = changed.read_dataframe(files=[FLASH_FX])
    assert calls, "config change must trigger re-extraction"
    assert "dldPosX" in electron.columns


def test_writer_rejects_oversized_attribute(tmp_path):
    """The v1 object-header message length is uint16: a >64 KiB attribute
    must fail loudly at add_attr time, naming the attribute, instead of an
    opaque struct.error at write()."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_dataset("/x", np.arange(4.0))
    with pytest.raises(ValueError, match="64 KiB"):
        w.add_attr("/x", "big", np.zeros(10_000))
    w.add_attr("/x", "small", np.zeros(100))  # well under the limit: fine


def test_reader_names_truncated_files(tmp_path):
    """Every truncation point of a real instrument file fails with a named
    UnsupportedHDF5 ('truncated or corrupt'), never a bare struct.error or
    numpy reshape ValueError that reads as a library bug."""
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5

    src = Path("/root/reference/tests/data/loader/mpes/Scan0030_2.h5")
    if not src.exists():
        pytest.skip("reference fixture not present")
    data = src.read_bytes()
    for frac in (0.001, 0.01, 0.3, 0.9):
        p = tmp_path / f"t{frac}.h5"
        p.write_bytes(data[: int(len(data) * frac)])
        with pytest.raises(UnsupportedHDF5, match="truncated or corrupt"):
            f = H5File(str(p))
            for q in f.visit():
                f.read(q)


def test_lzf_filter_roundtrip_and_pipeline():
    """LZF (filter 32000, h5py's built-in): the pure-Python decoder
    inverts the greedy encoder for adversarial byte streams (empty,
    incompressible, all-zero, short-period RLE that forces overlapping
    back-references), composes with shuffle in pipeline order, and
    truncated/corrupt streams raise the named corruption error."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sed_binning_spark.io.hdf5_read import (
        H5File, UnsupportedHDF5, _lzf_compress, _lzf_decompress,
    )

    for c in (b"", b"a", b"abc" * 500, b"\x00" * 4096, b"ab" * 3000,
              bytes(range(256)) * 40):
        assert _lzf_decompress(_lzf_compress(c)) == c

    @given(st.binary(max_size=5000), st.integers(1, 5))
    @settings(max_examples=50, deadline=None)
    def _prop(data, period):
        blob = data + (data[:period] or b"x") * 40 + data
        assert _lzf_decompress(_lzf_compress(blob)) == blob

    _prop()

    values = np.arange(1000, dtype="<i4")
    shuffled = np.frombuffer(values.tobytes(), np.uint8).reshape(-1, 4).T.tobytes()
    out = H5File._defilter(_lzf_compress(shuffled), [(2, [4]), (32000, [])], 0, 4)
    np.testing.assert_array_equal(np.frombuffer(out, "<i4"), values)
    # filter_mask bit set = chunk stored raw (what h5py does when LZF
    # cannot shrink it)
    raw = H5File._defilter(shuffled, [(2, [4]), (32000, [])], 2, 4)
    np.testing.assert_array_equal(np.frombuffer(raw, "<i4"), values)

    for bad in (b"\xff\xff", b"\x05ab", b"\x00"):
        with pytest.raises(UnsupportedHDF5, match="LZF"):
            _lzf_decompress(bad)


def test_jenkins_lookup3_public_vectors():
    """lookup3 hashlittle against the self-test vectors published in Bob
    Jenkins' lookup3.c — the anchor that makes every dense-storage
    checksum and name hash externally checkable without libhdf5."""
    from sed_binning_spark.io.hdf5_read import jenkins_lookup3

    assert jenkins_lookup3(b"", 0) == 0xDEADBEEF
    assert jenkins_lookup3(b"", 0xDEADBEEF) == 0xBD5B7DDE
    assert jenkins_lookup3(b"Four score and seven years ago", 0) == 0x17770551
    assert jenkins_lookup3(b"Four score and seven years ago", 1) == 0xCD628161
    # 12-byte-block boundary cases exercise the tail switch
    for n in range(0, 40):
        jenkins_lookup3(bytes(range(n)))  # must not raise


def test_dense_links_round_trip(tmp_path):
    """Dense (fractal heap + type-5 v2 B-tree) link storage: 60 links per
    group force a depth-1 B-tree (512-byte leaves cap at 45 link records)
    and a multi-block heap behind a root indirect block; datasets, a
    soft link, and group attributes all resolve identically to the same
    tree written with classic symbol tables."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    def build(dense):
        w = H5Writer(dense_links=dense)
        for i in range(60):
            w.add_dataset(f"/grp/ds{i:03d}", np.arange(i + 1, dtype="<i4"))
        w.add_softlink("/grp/alias", "/grp/ds003")
        w.add_attr("/grp", "station", "dense-fixture")
        p = tmp_path / f"links_{dense}.h5"
        w.write(str(p))
        return p

    dense_p, classic_p = build(True), build(False)
    dense, classic = H5File(str(dense_p)), H5File(str(classic_p))
    assert dense.visit() == classic.visit()
    for i in (0, 7, 44, 59):
        np.testing.assert_array_equal(
            dense.read(f"/grp/ds{i:03d}"), classic.read(f"/grp/ds{i:03d}"),
        )
    np.testing.assert_array_equal(dense.read("/grp/alias"),
                                  dense.read("/grp/ds003"))
    assert dense.attrs("/grp")["station"] == "dense-fixture"
    raw = dense_p.read_bytes()
    # the dense file really is dense: heap + B-tree structures present,
    # depth-1 internal node present, and no classic symbol-table nodes
    for sig in (b"FRHP", b"FHDB", b"FHIB", b"BTHD", b"BTIN", b"BTLF"):
        assert sig in raw, sig
    assert b"SNOD" not in raw
    assert b"SNOD" in classic_p.read_bytes()


def test_dense_links_small_group_root_direct(tmp_path):
    """A handful of links stays in one starting-size direct block (no
    FHIB) under a single-leaf (depth-0, no BTIN) B-tree."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer(dense_links=True)
    for i in range(5):
        w.add_dataset(f"/g/d{i}", np.full(4, i, dtype="<f8"))
    p = tmp_path / "small.h5"
    w.write(str(p))
    f = H5File(str(p))
    assert sorted(f.visit()) == [f"/g/d{i}" for i in range(5)]
    np.testing.assert_array_equal(f.read("/g/d3"), np.full(4, 3.0))
    raw = p.read_bytes()
    assert b"FRHP" in raw and b"BTLF" in raw
    assert b"FHIB" not in raw and b"BTIN" not in raw


def test_dense_attrs_round_trip(tmp_path):
    """Dense attribute storage (message 0x0015): numeric/string/array
    attributes round-trip through the type-8 name-index B-tree and the
    version-3 attribute messages in the fractal heap, including a
    ~4000-byte array attribute that must skip into a larger direct
    block (exercising UNDEF unallocated slots in the indirect block)."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    big = np.arange(496, dtype="<f8")  # 3968-byte payload
    w = H5Writer(dense_attrs=True)
    w.add_dataset("/data", np.arange(10, dtype="<i8"))
    for i in range(30):
        w.add_attr("/data", f"attr{i:02d}", float(i) / 4)
    w.add_attr("/data", "label", "dense attrs")
    w.add_attr("/data", "big", big)
    p = tmp_path / "attrs.h5"
    w.write(str(p))
    f = H5File(str(p))
    a = f.attrs("/data")
    assert len(a) == 32
    assert a["attr17"] == 4.25 and a["label"] == "dense attrs"
    np.testing.assert_array_equal(a["big"], big)
    raw = p.read_bytes()
    assert b"FRHP" in raw and b"FHIB" in raw and b"BTHD" in raw


def test_dense_checksum_corruption_raises(tmp_path):
    """A flipped byte inside any checksummed dense structure surfaces as
    the named corruption error, not a misread."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer(dense_links=True)
    for i in range(10):
        w.add_dataset(f"/g/d{i}", np.arange(3, dtype="<i4"))
    p = tmp_path / "ok.h5"
    w.write(str(p))
    raw = bytearray(p.read_bytes())
    for sig, what in ((b"BTLF", "leaf"), (b"FRHP", "fractal heap header")):
        bad = bytearray(raw)
        bad[bad.find(sig) + 8] ^= 0xFF
        q = tmp_path / f"bad_{what.split()[0]}.h5"
        q.write_bytes(bytes(bad))
        with pytest.raises(UnsupportedHDF5, match="checksum mismatch"):
            H5File(str(q)).visit()


def test_fractal_heap_id_type_guards():
    """Huge/tiny heap IDs (objects outside the managed size band) raise
    the named refusal instead of dereferencing garbage."""
    from sed_binning_spark.io.hdf5_read import _FractalHeap, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import _emit_fractal_heap

    buf = bytearray()
    addr, ids = _emit_fractal_heap(buf, [b"payload"], max_heap_bits=32)
    heap = _FractalHeap(bytes(buf), addr)
    assert heap.read(ids[0]) == b"payload"
    assert len(ids[0]) == heap.id_len == 7  # 1 + 4-byte offset + 2-byte len
    with pytest.raises(UnsupportedHDF5, match="huge/tiny"):
        heap.read(bytes([0x10]) + ids[0][1:])
    with pytest.raises(UnsupportedHDF5, match="ID version"):
        heap.read(bytes([0x40]) + ids[0][1:])


def test_layout_v4_chunk_indexes_round_trip(tmp_path):
    """Layout-v4 ("latest" format) chunked datasets read back exactly
    through all three supported chunk indexes — fixed array (unfiltered
    client 0 AND deflated client 1, 1-D/2-D/3-D grids with edge-partial
    chunks), single chunk (plain and filtered, where size/mask ride the
    layout message), and implicit contiguous."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(3)
    arr2d = rng.integers(-1000, 1000, size=(37, 23)).astype("<i4")
    arr1d = rng.standard_normal(1000).astype("<f8")
    arr3d = rng.integers(0, 255, size=(9, 7, 5)).astype("<u1")
    cases = [
        ("fa_plain", arr2d, dict(chunks=(10, 10))),
        ("fa_deflate", arr2d, dict(chunks=(10, 10), deflate=True)),
        ("fa_1d", arr1d, dict(chunks=(64,), deflate=True)),
        ("fa_3d", arr3d, dict(chunks=(4, 3, 2))),
        ("single", arr2d, dict(chunks=(37, 23), chunk_index="single")),
        ("single_z", arr2d,
         dict(chunks=(40, 30), chunk_index="single", deflate=True)),
        ("implicit", arr2d, dict(chunks=(10, 10), chunk_index="implicit")),
        ("exact_grid", arr1d[:128], dict(chunks=(32,))),
    ]
    w = H5Writer()
    for name, a, kw in cases:
        w.add_dataset("/" + name, a, **kw)
    p = tmp_path / "v4.h5"
    w.write(str(p))
    f = H5File(str(p))
    for name, a, kw in cases:
        got = f.read("/" + name)
        assert got.dtype == a.dtype, name
        np.testing.assert_array_equal(got, a, err_msg=name)
    assert f.dataset("/fa_plain").chunk_index == "fixed"
    assert f.dataset("/single").chunk_index == "single"
    assert f.dataset("/implicit").chunk_index == "implicit"
    raw = p.read_bytes()
    assert b"FAHD" in raw and b"FADB" in raw


def test_layout_v4_fixed_array_corruption_and_refusals(tmp_path):
    """Fixed-array header/data-block corruption surfaces as the named
    checksum error; the unimplemented unlimited-dimension index flavors
    raise their typed refusals instead of misreading."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_dataset("/only", np.arange(128, dtype="<i4"), chunks=(32,))
    p = tmp_path / "one.h5"
    w.write(str(p))
    good = p.read_bytes()
    for sig, off in ((b"FADB", 20), (b"FAHD", 9)):
        bad = bytearray(good)
        bad[bad.find(sig) + off] ^= 0xFF
        q = tmp_path / f"bad_{sig.decode().lower()}.h5"
        q.write_bytes(bytes(bad))
        with pytest.raises(UnsupportedHDF5, match="checksum mismatch"):
            H5File(str(q)).read("/only")
    # unknown index types refuse by name (all five defined types are now
    # implemented): patch the layout message's index-type byte. The v4
    # chunked message body for this file is 4,2,flags,2,8 + the chunk dim
    # and the trailing element-size dim + type 3.
    bad = bytearray(good)
    at = bad.find(bytes([4, 2, 0, 2, 8]) + (32).to_bytes(8, "little")
                  + (4).to_bytes(8, "little"))
    assert at > 0, "layout message not found"
    ty_at = at + 5 + 16
    assert bad[ty_at] == 3
    for ty in (0, 9):
        bad[ty_at] = ty
        q = tmp_path / f"idx{ty}.h5"
        q.write_bytes(bytes(bad))
        with pytest.raises(UnsupportedHDF5, match=f"chunk index type {ty}"):
            H5File(str(q)).dataset("/only")


def test_layout_v4_extensible_array_round_trip(tmp_path):
    """Extensible-array chunk index (the v4 flavor for ONE unlimited
    dimension): chunk counts chosen to land in each structural regime —
    records directly in the index block (3), embedded data-block
    pointers (30), secondary blocks (300), several doubling generations
    (2500) — each both bare (client 0) and deflated (client 1), plus a
    2-D grid with edge-partial chunks."""
    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(11)
    cases = []
    for nchunks, tag in [(3, "direct"), (30, "embedded"),
                         (300, "super"), (2500, "many")]:
        arr = rng.integers(-9999, 9999, size=nchunks * 8).astype("<i4")
        cases.append((tag, arr, dict(chunks=(8,), chunk_index="extensible")))
        cases.append((tag + "_z", arr,
                      dict(chunks=(8,), chunk_index="extensible",
                           deflate=True)))
    arr2d = rng.integers(0, 100, size=(50, 17)).astype("<i8")
    cases.append(("two_d", arr2d,
                  dict(chunks=(7, 4), chunk_index="extensible",
                       deflate=True)))
    w = H5Writer()
    for name, a, kw in cases:
        w.add_dataset("/" + name, a, **kw)
    p = tmp_path / "ea.h5"
    w.write(str(p))
    f = H5File(str(p))
    for name, a, kw in cases:
        np.testing.assert_array_equal(f.read("/" + name), a, err_msg=name)
        assert f.dataset("/" + name).chunk_index == "extensible"
    raw = p.read_bytes()
    for sig in (b"EAHD", b"EAIB", b"EASB", b"EADB"):
        assert sig in raw, sig


def test_layout_v4_extensible_array_corruption(tmp_path):
    """A flipped byte inside any extensible-array structure surfaces as a
    named corruption error (checksum mismatch or a block-offset
    disagreement with the generation walk), never a silent misread."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_dataset("/x", np.arange(2400, dtype="<i4"), chunks=(8,),
                  chunk_index="extensible")
    p = tmp_path / "one.h5"
    w.write(str(p))
    good = p.read_bytes()
    for sig in (b"EAHD", b"EAIB", b"EASB", b"EADB"):
        bad = bytearray(good)
        bad[bad.find(sig) + 16] ^= 0xFF
        q = tmp_path / f"bad_{sig.decode().lower()}.h5"
        q.write_bytes(bytes(bad))
        with pytest.raises(UnsupportedHDF5,
                           match="checksum mismatch|where the walk expected"):
            H5File(str(q)).read("/x")


def test_layout_v4_btree2_chunk_index(tmp_path):
    """v2 B-tree chunk index (types 10/11 — the several-unlimited-
    dimensions flavor): bare and filtered records with scaled grid
    offsets round-trip, including a 300-chunk dataset whose tree goes
    depth 1, and a record whose scaled offsets land beyond the dataset
    extent raises."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(5)
    arr2d = rng.integers(-500, 500, size=(41, 29)).astype("<i4")
    big1d = rng.standard_normal(2400).astype("<f8")
    cases = [
        ("b2_plain", arr2d, dict(chunks=(9, 4), chunk_index="btree2")),
        ("b2_z", arr2d,
         dict(chunks=(9, 4), chunk_index="btree2", deflate=True)),
        ("b2_deep", big1d,
         dict(chunks=(8,), chunk_index="btree2", deflate=True)),
    ]
    w = H5Writer()
    for name, a, kw in cases:
        w.add_dataset("/" + name, a, **kw)
    p = tmp_path / "b2.h5"
    w.write(str(p))
    f = H5File(str(p))
    for name, a, kw in cases:
        np.testing.assert_array_equal(f.read("/" + name), a, err_msg=name)
        assert f.dataset("/" + name).chunk_index == "btree2"
    assert b"BTIN" in p.read_bytes()  # the 300-chunk tree went depth 1

    # corrupt a scaled offset in the first leaf record of a one-dataset
    # file: the extent guard names the corruption (offset field is past
    # the 8-byte address, and the record rewrite invalidates no checksum
    # we re-sign here — so re-sign the leaf)
    w2 = H5Writer()
    w2.add_dataset("/x", np.arange(64, dtype="<i4"), chunks=(8,),
                   chunk_index="btree2")
    q = tmp_path / "one.h5"
    w2.write(str(q))
    raw = bytearray(q.read_bytes())
    from sed_binning_spark.io.hdf5_read import jenkins_lookup3
    at = raw.find(b"BTLF")
    rec0 = at + 6
    import struct as st
    st.pack_into("<Q", raw, rec0 + 8, 999)  # scaled offset far past extent
    used = 6 + 8 * 16  # 8 records x 16 bytes
    st.pack_into("<I", raw, at + used,
                 jenkins_lookup3(bytes(raw[at : at + used])))
    bad = tmp_path / "bad.h5"
    bad.write_bytes(bytes(raw))
    with pytest.raises(UnsupportedHDF5, match="beyond the dataset extent"):
        H5File(str(bad)).read("/x")


def test_layout_v4_paged_fixed_array(tmp_path):
    """Fixed arrays past 2^page_bits entries page their data block: the
    prefix holds only the page bitmap, the 1024-element pages follow
    back-to-back with their own checksums. 3000 chunks (3 pages, last
    truncated) round-trip bare and deflated; exactly 1024 chunks stays
    non-paged (the boundary); a flipped page byte raises the named
    corruption error."""
    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(9)
    a1 = rng.integers(-100, 100, size=3000 * 4).astype("<i2")
    a2 = rng.standard_normal(1024 * 4).astype("<f4")
    w = H5Writer()
    w.add_dataset("/paged", a1, chunks=(4,))
    w.add_dataset("/paged_z", a1, chunks=(4,), deflate=True)
    w.add_dataset("/boundary", a2, chunks=(4,))
    p = tmp_path / "paged.h5"
    w.write(str(p))
    f = H5File(str(p))
    np.testing.assert_array_equal(f.read("/paged"), a1)
    np.testing.assert_array_equal(f.read("/paged_z"), a1)
    np.testing.assert_array_equal(f.read("/boundary"), a2)

    # single-dataset file: structural pins on the paged block itself
    w2 = H5Writer()
    w2.add_dataset("/x", a1, chunks=(4,))
    q = tmp_path / "one.h5"
    w2.write(str(q))
    raw = bytearray(q.read_bytes())
    at = raw.find(b"FADB")
    # 3 pages, all initialized: libhdf5's H5VM_bit_set numbers bit 0 as
    # the HIGH bit, so the bitmap byte must be 0b1110_0000
    assert raw[at + 14] == 0xE0, hex(raw[at + 14])
    # corrupt an element byte inside the first page (prefix 14 + bitmap 1
    # + block checksum 4, then page entries)
    raw[at + 14 + 1 + 4 + 50] ^= 0xFF
    bad = tmp_path / "bad.h5"
    bad.write_bytes(bytes(raw))
    with pytest.raises(UnsupportedHDF5, match="checksum mismatch"):
        H5File(str(bad)).read("/x")


def test_golden_latest_format_fixture():
    """Frozen-bytes regression anchor for the post-1.8 structures: the
    checked-in golden file (dense links + dense attrs + every v4 chunk
    index incl. a paged fixed array) must keep decoding to the same
    values, and the writer must keep REPRODUCING it byte-for-byte — so
    any accidental layout drift in either side of the pair shows up as
    a diff against bytes committed when the structures were written
    from the spec, not just as a self-consistent round-trip.

    KNOWN LIMIT (round-10 advisor finding): this golden file was written
    by the sibling H5Writer, so a spec misreading SHARED by reader and
    writer (e.g. a swapped field order) would round-trip cleanly here and
    only surface as an UnsupportedHDF5 raise on real libhdf5 output. The
    three REAL instrument fixtures under /root/reference/tests/data cover
    the libhdf5 1.8-era structures; the post-1.8 paths (dense storage,
    v4 chunk indexes) still need one h5py/libhdf5-written fixture — h5py
    is not installed in this environment, so generate it offline with
    ``h5py.File(..., libver='latest')`` mirroring _build_golden() and add
    it beside this file; the existing checksum/back-pointer guards make a
    mismatch raise rather than misread in the meantime."""
    import hashlib

    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    golden = str(Path(__file__).parent / "data" / "golden_latest.h5")
    raw = open(golden, "rb").read()
    assert hashlib.md5(raw).hexdigest() == "96bb2a5ddc85859e4be1b54a6616dc4b"

    f = H5File(golden)
    rng = np.random.default_rng(123)
    np.testing.assert_array_equal(f.read("/grp/d07"),
                                  np.arange(8, dtype="<i4"))
    np.testing.assert_array_equal(f.read("/grp/alias"), f.read("/grp/d03"))
    attrs = f.attrs("/grp")
    assert attrs["station"] == "golden" and attrs["a13"] == 6.5
    assert len([p for p in f.visit() if p.startswith("/grp/")]) == 50
    expected = {
        "/v4/fixed": rng.integers(-99, 99, 300).astype("<i2"),
        "/v4/fixed_paged": rng.integers(0, 9, 9000).astype("<u1"),
        "/v4/single": rng.standard_normal(40).astype("<f4"),
        "/v4/implicit": rng.integers(0, 50, 60).astype("<i8"),
        "/v4/ea": rng.integers(-5, 5, 2400).astype("<i4"),
        "/v4/b2": rng.standard_normal(240).astype("<f8"),
    }
    for path, arr in expected.items():
        np.testing.assert_array_equal(f.read(path), arr, err_msg=path)

    # the writer still reproduces the committed bytes exactly
    w = H5Writer(dense_links=True, dense_attrs=True)
    rng = np.random.default_rng(123)
    for i in range(50):
        w.add_dataset(f"/grp/d{i:02d}", np.arange(i + 1, dtype="<i4"))
    w.add_softlink("/grp/alias", "/grp/d03")
    for i in range(20):
        w.add_attr("/grp", f"a{i:02d}", float(i) * 0.5)
    w.add_attr("/grp", "station", "golden")
    w.add_dataset("/v4/fixed", rng.integers(-99, 99, 300).astype("<i2"),
                  chunks=(7,))
    w.add_dataset("/v4/fixed_paged", rng.integers(0, 9, 9000).astype("<u1"),
                  chunks=(2,))
    w.add_dataset("/v4/single", rng.standard_normal(40).astype("<f4"),
                  chunks=(40,), chunk_index="single", deflate=True)
    w.add_dataset("/v4/implicit", rng.integers(0, 50, 60).astype("<i8"),
                  chunks=(8,), chunk_index="implicit")
    w.add_dataset("/v4/ea", rng.integers(-5, 5, 2400).astype("<i4"),
                  chunks=(8,), chunk_index="extensible", deflate=True)
    w.add_dataset("/v4/b2", rng.standard_normal(240).astype("<f8"),
                  chunks=(8,), chunk_index="btree2")
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".h5") as tf:
        w.write(tf.name)
        assert open(tf.name, "rb").read() == raw


def test_committed_datatype_roundtrip(tmp_path):
    """Committed (named) datatypes: the writer emits the type as its own
    object header and the dataset's datatype message as a v3-type-2
    shared reference; the reader resolves the reference to the REAL
    datatype — for plain, compound, and chunked datasets — and the named
    type itself lists as a node. SOHM-heap and malformed shared
    references refuse loudly."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    cdt = np.dtype([("x", "<f4"), ("n", "<i4")])
    rec = np.zeros(5, dtype=cdt)
    rec["x"] = np.arange(5) * 0.5
    rec["n"] = np.arange(5) * 3
    plain = np.arange(12, dtype="<f8").reshape(3, 4)

    w = H5Writer()
    w.add_committed_datatype("/types/t_evt", cdt)
    w.add_committed_datatype("/t_plain", "<f8")
    w.add_dataset("/grp/recs", rec, committed_dtype="/types/t_evt")
    w.add_dataset("/grp/plain", plain, committed_dtype="/t_plain")
    w.add_dataset(
        "/grp/chunked", plain, chunks=(2, 2), committed_dtype="/t_plain",
    )
    w.add_dataset("/grp/inline", plain)  # mixed with inline types
    p = str(tmp_path / "committed.h5")
    w.write(p)

    f = H5File(p)
    np.testing.assert_array_equal(f.read("/grp/recs"), rec)
    np.testing.assert_array_equal(f.read("/grp/plain"), plain)
    np.testing.assert_array_equal(f.read("/grp/chunked"), plain)
    np.testing.assert_array_equal(f.read("/grp/inline"), plain)
    # the named type objects are addressable hierarchy nodes (they list
    # as empty non-dataset nodes — visit() enumerates datasets only)
    assert f.attrs("/types/t_evt") == {} and f.attrs("/t_plain") == {}

    # referencing a type that was never committed fails at WRITE time
    w2 = H5Writer()
    w2.add_dataset("/d", plain, committed_dtype="/nope")
    with pytest.raises(ValueError, match="never committed"):
        w2.write(str(tmp_path / "bad.h5"))

    # SOHM-heap (v3 type != 2) and malformed shared references refuse
    with pytest.raises(UnsupportedHDF5, match="SOHM"):
        f._shared_message_body(bytes([3, 0]) + b"\x00" * 8, 0x0003)
    with pytest.raises(UnsupportedHDF5, match="truncated"):
        f._shared_message_body(b"\x03", 0x0003)
    with pytest.raises(UnsupportedHDF5, match="version"):
        f._shared_message_body(bytes([9, 2]) + b"\x00" * 8, 0x0003)
    with pytest.raises(UnsupportedHDF5, match="outside the file"):
        f._shared_message_body(
            bytes([3, 2]) + (2 ** 60).to_bytes(8, "little"), 0x0003,
        )


def test_shared_attribute_datatype(tmp_path):
    """v3 attribute messages whose flag bit 0 marks a SHARED datatype:
    the dt block is a shared-message reference the reader must resolve
    through the committed type's object header (the same machinery as
    dataset datatypes); a shared DATASPACE (flag bit 1) still refuses."""
    import struct

    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_committed_datatype("/t_f8", "<f8")
    w.add_dataset("/d", np.arange(3, dtype="<f8"), committed_dtype="/t_f8")
    p = str(tmp_path / "shared_attr.h5")
    w.write(p)
    f = H5File(p)
    # the committed type's object-header address, as the writer placed it
    addr = w._dtype_addrs["/t_f8"]

    # hand-build a v3 attribute message: version, flags=1 (shared dt),
    # name size, dt size (10-byte shared ref), dataspace size, encoding
    name = b"temp\x00"
    dt_ref = struct.pack("<BBQ", 3, 2, addr)
    space = struct.pack("<BBB5x", 1, 0, 0)  # v1 scalar dataspace
    value = struct.pack("<d", 36.6)
    body = (
        struct.pack("<BBHHH", 3, 0x01, len(name), len(dt_ref), len(space))
        + b"\x00" + name + dt_ref + space + value
    )
    got_name, got_val = f._parse_attribute(body)
    assert got_name == "temp" and got_val == pytest.approx(36.6)

    # shared dataspace still refuses loudly
    body2 = bytearray(body)
    body2[1] = 0x02
    with pytest.raises(UnsupportedHDF5, match="shared attribute dataspace"):
        f._parse_attribute(bytes(body2))


def test_external_links(tmp_path):
    """External links (H5L type 64): followed lazily into the target
    file — directly to a dataset, THROUGH an externally-linked group
    with remaining path components, and for attrs; relative file names
    resolve against the linking file's directory; traversal skips them
    (h5py.visit semantics) and a dangling target fails only on follow."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    data = np.arange(6, dtype="<i4")
    wt = H5Writer()
    wt.add_dataset("/remote/data", data)
    wt.add_attr("/remote", "who", "target")
    wt.write(str(tmp_path / "target.h5"))

    wl = H5Writer(dense_links=True)
    wl.add_dataset("/local", np.ones(2, dtype="<f8"))
    wl.add_externallink("/ext", "target.h5", "/remote/data")
    wl.add_externallink("/extgrp", "target.h5", "/remote")
    wl.add_externallink("/dangling", "missing.h5", "/x")
    wl.write(str(tmp_path / "link.h5"))

    f = H5File(str(tmp_path / "link.h5"))
    np.testing.assert_array_equal(f.read("/ext"), data)
    # remaining path components continue INSIDE the target file
    np.testing.assert_array_equal(f.read("/extgrp/data"), data)
    assert f.attrs("/extgrp")["who"] == "target"
    assert f.dataset("/ext").shape == (6,)
    # traversal lists only this file's own datasets
    assert f.visit() == ["/local"]
    with pytest.raises(KeyError, match="not found"):
        f.read("/dangling")
    # classic symbol-table groups have no link-message storage
    with pytest.raises(ValueError, match="dense_links"):
        H5Writer().add_externallink("/e", "f.h5", "/x")


def test_external_link_cycle_refuses(tmp_path):
    """Two files external-linking to each other must raise the named
    UnsupportedHDF5 depth error — external hops cross H5File instances,
    so the soft-link depth counter cannot see them."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File, UnsupportedHDF5

    from sed_binning_spark.io.hdf5_write import H5Writer

    for me, other in (("a.h5", "b.h5"), ("b.h5", "a.h5")):
        w = H5Writer(dense_links=True)
        w.add_dataset("/own", np.zeros(1, dtype="<f8"))
        w.add_externallink("/loop", other, "/loop")
        w.write(str(tmp_path / me))
    f = H5File(str(tmp_path / "a.h5"))
    with pytest.raises(UnsupportedHDF5, match="chain deeper"):
        f.read("/loop")
    with pytest.raises(UnsupportedHDF5, match="chain deeper"):
        f.attrs("/loop")


def test_nbit_filter(tmp_path):
    """n-bit (filter 5, atomic class, LE — the public H5Znbit.c layout):
    full-file round-trips at several precisions/offsets, a HAND-PACKED
    stream decodes to the expected elements (independent of the writer's
    numpy packing), the no-op flag passes chunks through verbatim, and
    the refusal corners (non-atomic class, big-endian order, oversized
    precision) raise the named error."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import (
        H5File, UnsupportedHDF5, _nbit_decode,
    )
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(7)
    d12 = rng.integers(0, 1 << 12, size=37, dtype=np.uint16)
    d_off = (rng.integers(0, 1 << 10, size=21, dtype=np.uint32) << 3)
    d32 = rng.integers(0, 1 << 20, size=50, dtype=np.uint32)
    w = H5Writer()
    w.add_dataset("/p12", d12, chunks=(16,), filters=[("nbit", 12)])
    w.add_dataset("/poff", d_off, chunks=(8,), filters=[("nbit", 10, 3)])
    # composes with deflate in pipeline order (nbit then deflate)
    w.add_dataset("/p20z", d32, chunks=(32,),
                  filters=[("nbit", 20), ("deflate",)])
    w.write(str(tmp_path / "nbit.h5"))
    f = H5File(str(tmp_path / "nbit.h5"))
    np.testing.assert_array_equal(f.read("/p12"), d12)
    np.testing.assert_array_equal(f.read("/poff"), d_off)
    np.testing.assert_array_equal(f.read("/p20z"), d32)

    # hand-packed stream, built with plain int arithmetic: 0xABC then
    # 0x123 at 12 bits = bytes AB C1 23
    cd = [8, 0, 2, 1, 2, 0, 12, 0]
    got = np.frombuffer(_nbit_decode(bytes([0xAB, 0xC1, 0x23]), cd), "<u2")
    np.testing.assert_array_equal(got, [0xABC, 0x123])
    # offset reconstruction zero-fills around the span
    got = np.frombuffer(
        _nbit_decode(bytes([0b10100000]), [8, 0, 1, 1, 1, 0, 3, 2]), "<u1",
    )
    np.testing.assert_array_equal(got, [0b101 << 2])
    # no-op flag: chunk bytes pass through untouched
    assert _nbit_decode(b"xyz", [4, 1, 3, 1]) == b"xyz"
    with pytest.raises(UnsupportedHDF5, match="non-atomic"):
        _nbit_decode(b"", [8, 0, 2, 3, 2, 0, 12, 0])
    # the encoder refuses data whose bits exceed the declared span
    # instead of silently masking them away
    from sed_binning_spark.io.hdf5_write import _nbit_encode
    with pytest.raises(ValueError, match="outside the declared"):
        _nbit_encode(np.array([4096], "<u2").tobytes(), np.dtype("<u2"), 12, 0)
    with pytest.raises(ValueError, match="outside the declared"):
        _nbit_encode(np.array([1], "<u2").tobytes(), np.dtype("<u2"), 10, 3)
    with pytest.raises(UnsupportedHDF5, match="big-endian"):
        _nbit_decode(b"", [8, 0, 2, 1, 2, 1, 12, 0])
    with pytest.raises(UnsupportedHDF5, match="out of range"):
        _nbit_decode(b"", [8, 0, 2, 1, 2, 0, 15, 3])


def test_scaleoffset_filter(tmp_path):
    """Scale-offset (filter 6, the public H5Zscaleoffset.c layout):
    integer (signed, negatives) and float D-scale round-trips including
    the minbits == full-width verbatim branch; a hand-built chunk with a
    DEFINED fill value maps the all-ones field back to the fill;
    E-scaling and big-endian refuse. Provenance note: like the LZF and
    dense-storage fixtures, these files are written by our own writer
    (no h5py/libhdf5 ships in this container) — the cd_values/header
    layout follows the public C source; a libhdf5-written golden file
    is the standing offline ask (see the note in this file's
    committed-datatype section)."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import (
        H5File, UnsupportedHDF5, _scaleoffset_decode,
    )
    from sed_binning_spark.io.hdf5_write import H5Writer

    ints = np.array([-40, -39, 1000, 0, 7, -12, 831], dtype=np.int32)
    flo = np.array([1.234, -5.678, 0.125, 99.001, -0.25], dtype=np.float64)
    same = np.full(9, -3, dtype=np.int16)  # minbits == 0: all equal
    wide = np.array([0, -(2**31) + 1, 2**31 - 1], dtype=np.int32)  # full width
    w = H5Writer()
    w.add_dataset("/i", ints, chunks=(4,), filters=[("scaleoffset",)])
    w.add_dataset("/f", flo, chunks=(8,), filters=[("scaleoffset", 3)])
    w.add_dataset("/same", same, chunks=(9,), filters=[("scaleoffset",)])
    w.add_dataset("/wide", wide, chunks=(3,), filters=[("scaleoffset",)])
    w.add_dataset("/iz", ints, chunks=(8,),
                  filters=[("scaleoffset",), ("deflate",)])
    w.write(str(tmp_path / "so.h5"))
    f = H5File(str(tmp_path / "so.h5"))
    np.testing.assert_array_equal(f.read("/i"), ints)
    np.testing.assert_array_equal(f.read("/f"), flo)
    np.testing.assert_array_equal(f.read("/same"), same)
    np.testing.assert_array_equal(f.read("/wide"), wide)
    np.testing.assert_array_equal(f.read("/iz"), ints)

    # hand-built chunk with a DEFINED fill value: minbits=3, minval=-2,
    # fields [0, 7, 5] where 7 (all-ones) is the fill marker -> fill=42
    header = (3).to_bytes(4, "little") + bytes([8]) \
        + (-2 & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little") + b"\x00" * 8
    packed = bytes([0b000_111_10, 0b1_0000000])  # 0,7,5 at 3 bits MSB-first
    cd = [2, 0, 3, 0, 4, 1, 0, 1, 42]  # filavail=1, filval word 42
    got = np.frombuffer(_scaleoffset_decode(header + packed, cd), "<i4")
    np.testing.assert_array_equal(got, [-2, 42, 3])
    with pytest.raises(UnsupportedHDF5, match="E-scaling"):
        _scaleoffset_decode(header + packed, [1, 0, 3, 1, 4, 0, 0, 0])
    # filavail set but the fill words omitted: loud, not fill=0
    with pytest.raises(UnsupportedHDF5, match="omits its words"):
        _scaleoffset_decode(header + packed, [2, 0, 3, 0, 4, 1, 0, 1])
    with pytest.raises(UnsupportedHDF5, match="big-endian"):
        _scaleoffset_decode(header + packed, [2, 0, 3, 0, 4, 1, 1, 0])
    with pytest.raises(UnsupportedHDF5, match="truncated"):
        _scaleoffset_decode(header[:10], cd)

    # minbits == full width: libhdf5 stores the ORIGINAL buffer and its
    # decompressor memcpys + early-returns — no minval add, no all-ones
    # fill mapping, no D-scale. A nonzero minval and a defined fill in
    # cd_values must both be ignored on this branch.
    wide_vals = np.array([-(2**31), -1, 2**31 - 1], dtype="<i4")
    fw_header = (32).to_bytes(4, "little") + bytes([8]) \
        + (5 & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little") + b"\x00" * 8
    got = np.frombuffer(
        _scaleoffset_decode(fw_header + wide_vals.tobytes(),
                            [2, 0, 3, 0, 4, 1, 0, 1, 42]), "<i4")
    np.testing.assert_array_equal(got, wide_vals)  # -1 is all-ones: NOT fill
    flo_vals = np.array([1.5, -2.25, 6.02e23], dtype="<f8")
    fw64 = (64).to_bytes(4, "little") + bytes([8]) \
        + (7 & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little") + b"\x00" * 8
    got = np.frombuffer(
        _scaleoffset_decode(fw64 + flo_vals.tobytes(),
                            [0, 3, 3, 1, 8, 0, 0, 0]), "<f8")
    np.testing.assert_array_equal(got, flo_vals)  # no 10^-3 rescale either
    with pytest.raises(UnsupportedHDF5, match="shorter than"):
        _scaleoffset_decode(fw_header + wide_vals.tobytes()[:-1],
                            [2, 0, 3, 0, 4, 1, 0, 0])


def test_close_releases_external_handles(tmp_path):
    """close() releases the mmap AND every cached external-link target
    (recursively) — a file linking to many targets must not hold one
    open mapping per target for its whole lifetime. Context-manager
    form closes too; close is idempotent; reads after close raise."""
    import numpy as np
    import pytest

    from sed_binning_spark.io.hdf5_read import H5File
    from sed_binning_spark.io.hdf5_write import H5Writer

    data = np.arange(3, dtype="<i4")
    wt = H5Writer()
    wt.add_dataset("/d", data)
    wt.write(str(tmp_path / "t1.h5"))
    wt.write(str(tmp_path / "t2.h5"))

    wl = H5Writer(dense_links=True)
    wl.add_dataset("/own", np.zeros(1, dtype="<f8"))
    wl.add_externallink("/e1", "t1.h5", "/d")
    wl.add_externallink("/e2", "t2.h5", "/d")
    wl.write(str(tmp_path / "link.h5"))

    with H5File(str(tmp_path / "link.h5")) as f:
        np.testing.assert_array_equal(f.read("/e1"), data)
        np.testing.assert_array_equal(f.read("/e2"), data)
        ext = list(f._ext_files.values())
        assert len(ext) == 2
    assert f._ext_files == {}
    for t in ext:
        with pytest.raises(ValueError):
            bytes(t._buf[:1])  # target mmaps are closed, not leaked
    with pytest.raises(ValueError):
        f.read("/own")
    f.close()  # idempotent
