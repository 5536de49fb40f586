"""mpes loader tests (S4/S5): stream assembly, ms-marker timestamp
synthesis, timed dataframe, count rate, run-ID resolution — against the
reference's fill-loop semantics (sed/loader/mpes/loader.py:267-417)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_binning_spark.loaders.mpes import (
    MpesLoader,
    append_event_timestamps,
    count_rate_from_markers,
    elapsed_time_from_markers,
    event_timestamps_np,
    get_files_from_run_id,
    streams_to_dataframe,
    timed_dataframe_from_markers,
)


def _reference_fill(n_events, ms_marker, start_time):
    """The reference's literal marker fill loop (mpes loader.py:325-343)."""
    ts = np.zeros(n_events)
    ts[0 : ms_marker[0]] = start_time
    for i in range(len(ms_marker) - 1):
        ts[ms_marker[i] : ms_marker[i + 1]] = start_time + (i + 1) / 1000
    ts[ms_marker[-1] :] = start_time + len(ms_marker) / 1000
    return ts


def test_event_timestamps_match_reference_loop():
    rng = np.random.default_rng(3)
    # monotone markers with duplicates (documented by the reference)
    marker = np.sort(rng.integers(0, 500, size=40))
    ts = event_timestamps_np(500, marker, 1.7e9)
    np.testing.assert_array_equal(ts, _reference_fill(500, marker, 1.7e9))


def test_streams_to_dataframe(spark):
    streams = {
        "Stream_0": np.arange(100, dtype=np.float64),
        "Stream_1": np.arange(100, dtype=np.float64) * 2,
    }
    df = streams_to_dataframe(
        spark, streams, alias_dict={"Stream_0": "X", "Stream_1": "Y"},
        time_stamps=True, ms_marker=np.array([10, 30, 30, 70]), start_time=100.0,
    )
    assert set(df.columns) == {"X", "Y", "timeStamps", "file_id", "row_id"}
    dt = dict(df.dtypes)
    assert dt["X"] == "float" and dt["timeStamps"] == "double"
    pdf = df.toPandas().sort_values("row_id")
    assert pdf.row_id.tolist() == list(range(100))
    np.testing.assert_array_equal(
        pdf.timeStamps.to_numpy(),
        _reference_fill(100, np.array([10, 30, 30, 70]), 100.0),
    )


def test_streams_length_mismatch(spark):
    with pytest.raises(ValueError, match="differ in length"):
        streams_to_dataframe(spark, {"a": np.zeros(3), "b": np.zeros(4)})


def test_append_event_timestamps_udf(spark, events_df):
    marker = np.array([100, 400, 400, 2000, 5000])
    out = append_event_timestamps(events_df, marker, 50.0)
    got = out.select("row_id", "timeStamps").toPandas().sort_values("row_id")
    want = 50.0 + np.searchsorted(marker, got.row_id.to_numpy(), side="right") / 1000.0
    np.testing.assert_array_equal(got.timeStamps.to_numpy(), want)


def test_timed_dataframe_samples_marker_positions(spark):
    streams = {"v": np.arange(50, dtype=np.float64) * 10}
    ev = streams_to_dataframe(spark, streams)
    marker = np.array([1, 5, 5, 20, 49])
    timed = timed_dataframe_from_markers(
        ev, marker, start_time=7.0, time_stamps=True,
    ).toPandas().sort_values("ms_id")
    # row i carries the stream value at event index marker[i]-1
    np.testing.assert_array_equal(timed.v.to_numpy(), (marker - 1) * 10.0)
    np.testing.assert_array_equal(
        timed.timeStamps.to_numpy(), 7.0 + np.arange(5) / 1000.0,
    )


def test_count_rate_and_elapsed():
    marker = np.array([0, 10, 30, 60, 100], dtype=float)
    rate, secs = count_rate_from_markers(marker)
    np.testing.assert_allclose(secs, np.arange(5) / 1000.0)
    np.testing.assert_allclose(rate[:-1], np.diff(marker) * 1000.0)
    assert rate[-1] == rate[-2]
    assert elapsed_time_from_markers(marker) == 5 / 1000.0


def test_get_files_from_run_id(tmp_path):
    sub = tmp_path / "raw" / "day1"
    sub.mkdir(parents=True)
    for name in ["Scan0030_10.h5", "Scan0030_2.h5", "Scan0031_1.h5"]:
        (sub / name).touch()
    files = get_files_from_run_id(30, str(tmp_path))
    assert [f.rsplit("/", 1)[-1] for f in files] == ["Scan0030_2.h5", "Scan0030_10.h5"]
    with pytest.raises(FileNotFoundError, match="No files found for run 99"):
        get_files_from_run_id(99, str(tmp_path))


def test_mpes_loader_end_to_end(spark):
    files_data = [
        {
            "streams": {"Stream_0": np.arange(60, dtype=float)},
            "ms_marker": np.array([5, 20, 40]),
            "start_time": 1000.0,
        },
        {
            "streams": {"Stream_0": np.arange(40, dtype=float) + 100},
            "ms_marker": np.array([10, 35]),
            "start_time": 2000.0,
        },
    ]
    loader = MpesLoader(spark)
    ev, timed, meta = loader.read_dataframe(
        files_data=files_data, alias_dict={"Stream_0": "X"}, time_stamps=True,
    )
    assert ev.count() == 100
    assert ev.where(F.col("file_id") == 1).count() == 40
    tpdf = timed.toPandas()
    assert len(tpdf) == 5
    assert set(tpdf.file_id) == {0, 1}
    assert meta["elapsed_time"] == 5 / 1000.0
    rate, secs = loader.get_count_rate(files_data)
    assert len(rate) == len(secs) == 5
    assert loader.get_elapsed_time(files_data) == 5 / 1000.0


def _write_scans(tmp_path):
    """Three instrument files: ``Name`` aliases on two of three streams
    (Stream_10 sorts after Stream_2 only in natural order), markers with 0,
    a duplicate, exactly n and above n, and a last file without msMarkers."""
    from sed_binning_spark.io.hdf5_write import H5Writer

    rng = np.random.default_rng(12)
    specs = [(40, [0, 3, 3, 17, 40, 41]), (25, [1, 25, 25, 30, 30]), (30, None)]
    paths = []
    for i, (n, marker) in enumerate(specs):
        w = H5Writer()
        for stream, name in (("Stream_0", "X"), ("Stream_2", "Y"), ("Stream_10", None)):
            w.add_dataset(f"/{stream}", rng.random(n))
            if name:
                w.add_attr(f"/{stream}", "Name", name)
        if marker is not None:
            w.add_dataset("/msMarkers", np.array(marker, dtype=np.int64))
        w.add_attr("/", "FirstEventTimeStamp", f"2024-01-01T00:0{i}:00+00:00")
        paths.append(str(tmp_path / f"Scan0001_{i}.h5"))
        w.write(paths[-1])
    return paths


def _sorted_pdf(df, keys):
    return df.toPandas().sort_values(keys, ignore_index=True)


def test_read_modes_agree(spark, tmp_path):
    """``files`` and ``files_data`` give identical frames (schema and rows),
    with caller aliases overriding the files' Name aliases per stream; and
    per file the timed frame is ``timed_dataframe_from_markers`` over the
    event frame — the loader's NumPy gather is the frame-level join's rule
    (a duplicate marker repeats a row, a marker of 0 or above n drops)."""
    paths = _write_scans(tmp_path)
    loader = MpesLoader(spark)
    alias = {"Stream_0": "X2"}
    # the markerless file only without time stamps, which need markers
    for time_stamps, files in ((False, paths), (True, paths[:2])):
        payloads = [loader.h5_to_streams(p) for p in files]
        ev, timed, meta = loader.read_dataframe(
            files=files, alias_dict=alias, time_stamps=time_stamps,
        )
        ev_d, timed_d, meta_d = loader.read_dataframe(
            files_data=payloads, alias_dict=alias, time_stamps=time_stamps,
            metadata={"scan": 42},
        )
        ts = ["timeStamps"] if time_stamps else []
        assert ev.columns == ["X2", "Y", "Stream_10", *ts, "file_id", "row_id"]
        assert timed.columns == ["file_id", "ms_id", "X2", "Y", "Stream_10", *ts]
        for a, b, keys in ((ev, ev_d, ["file_id", "row_id"]),
                           (timed, timed_d, ["file_id", "ms_id"])):
            assert a.dtypes == b.dtypes
            pd.testing.assert_frame_equal(_sorted_pdf(a, keys), _sorted_pdf(b, keys))
        assert meta_d["scan"] == 42                 # caller metadata preserved
        assert meta["elapsed_time"] == meta_d["elapsed_time"] == 11 / 1000.0

        for fid, payload in enumerate(payloads):
            got = timed.where(F.col("file_id") == fid).drop("file_id")
            marker = payload.get("ms_marker")
            if marker is None:
                assert got.count() == 0
                continue
            want = timed_dataframe_from_markers(
                ev, marker, start_time=payload["start_time"],
                time_stamps=time_stamps, file_id=fid,
            )
            assert got.dtypes == want.dtypes
            pd.testing.assert_frame_equal(
                _sorted_pdf(got, ["ms_id"]), _sorted_pdf(want, ["ms_id"]),
            )
    # no file with markers: no timed frame, in either mode
    assert loader.read_dataframe(files=paths[2:])[1] is None
    assert loader.read_dataframe(files_data=[loader.h5_to_streams(paths[2])])[1] is None


def test_timed_frame_plans_no_join(spark, tmp_path):
    """Neither read mode joins the timed frame back onto the events: the
    file-path mode's timed mapInPandas yields only the valid marker rows."""
    paths = _write_scans(tmp_path)
    loader = MpesLoader(spark)
    valid = 4 + 3                  # markers in [1, n] of the two marked files
    for kw in ({"files": paths},
               {"files_data": [loader.h5_to_streams(p) for p in paths]}):
        _, timed, _ = loader.read_dataframe(**kw)
        plan = timed._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert ("MapInPandas" in plan) == ("files" in kw), plan
        assert timed.count() == valid


def test_files_data_missing_stream_names_the_payload(spark):
    """A payload missing a stream of the first payload fails at submit
    time, named, as the file-path mode names the file."""
    z = np.zeros(3)
    files_data = [{"streams": {"Stream_0": z, "Stream_1": z}},
                  {"streams": {"Stream_0": z}}]
    with pytest.raises(
        ValueError, match=r"files_data\[1\] is missing streams .*Stream_1",
    ):
        MpesLoader(spark).read_dataframe(files_data=files_data)


def test_file_start_time_mtime_fallback(tmp_path):
    """Missing/unparseable FirstEventTimeStamp falls back to file mtime
    minus acquisition duration (reference mpes loader.py:312-325) — never a
    silent epoch-0 anchor."""
    import os

    from sed_binning_spark.loaders.mpes import _file_start_time

    p = tmp_path / "scan.h5"
    p.write_bytes(b"x")
    mtime = os.path.getmtime(p)
    marker = np.arange(1, 2001)                 # 2000 ms of acquisition

    assert _file_start_time(None, str(p), marker) == mtime - 2.0
    assert _file_start_time("not a date", str(p), marker) == mtime - 2.0
    assert _file_start_time(None, str(p), None) == mtime
    # attribute wins when parseable
    got = _file_start_time("2023-01-30T15:38:07.123+00:00", str(p), marker)
    assert abs(got - 1675093087.123) < 1e-6
