"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import zlib

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from sed_binning_spark.cube import Cube  # noqa: E402

SMALL = {
    "dense_bin": {"events": 20_000, "files": 2},
    "calib_workflow": {"events": 5_000, "files": 2, "dfield_grid": 16, "detector": 64},
    "mpes_ingest": {"files": 2, "events_per_file": 3_000, "ms_per_file": 50,
                    "chunk": 1024},
    "curation": {"docs": 200, "exact_frac": 0.10, "near_frac": 0.10, "vocab": 300},
}


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", SMALL)


def tree_digest(root: str) -> str:
    """CRC32 over every file's relative path and bytes, in sorted order."""
    crc = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            crc = zlib.crc32(os.path.relpath(p, root).encode(), crc)
            with open(p, "rb") as fh:
                crc = zlib.crc32(fh.read(), crc)
    return f"{crc:08x}"


@pytest.mark.parametrize("part", sorted(SMALL))
def test_generators_are_byte_identical_for_a_seed(tmp_path, small_sizes, part):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate_part(part, 7, a)
    gen.generate_part(part, 7, b)
    gen.generate_part(part, 8, c)
    assert tree_digest(a) == tree_digest(b)
    assert tree_digest(a) != tree_digest(c)


def test_curation_plants_the_stated_duplicates(tmp_path, small_sizes):
    import pyarrow.parquet as pq

    gen.generate_part("curation", 3, str(tmp_path))
    ref = np.load(tmp_path / "reference.npz")
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(ref["planted_exact"]) == len(ref["planted_near"]) == 20
    for a, b in ref["planted_exact"]:
        assert texts[a] == texts[b]
    for a, b in ref["planted_near"]:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 2
    assert len(set(texts)) == len(texts) - 20


def _reference_cube(tmp_path):
    gen.generate_part("dense_bin", 5, str(tmp_path))
    ref = np.load(tmp_path / "reference.npz")
    bins, axes, ranges = gen.BIN_4D
    centers = [gen.bin_centers(n, *r) for n, r in zip(bins, ranges)]
    data = np.zeros(tuple(bins), dtype=np.float32)
    data.reshape(-1)[ref["bin_4d_idx"]] = ref["bin_4d_cnt"]
    return Cube(data, dict(zip(axes, centers)), axes), centers, ref


def test_reference_cube_passes_and_a_perturbed_cube_fails(tmp_path, small_sizes):
    cube, centers, ref = _reference_cube(tmp_path)
    args = (centers, ref["bin_4d_idx"], ref["bin_4d_cnt"], "bin_4d")
    workloads.check_cube(cube, *args)

    moved = cube.data.copy()
    i = ref["bin_4d_idx"][0]
    moved.reshape(-1)[i] -= 1  # one event moved to the neighbouring cell
    moved.reshape(-1)[i + 1] += 1
    with pytest.raises(workloads.CheckFailed):
        workloads.check_cube(Cube(moved, cube.coords, cube.dims), *args)

    extra = cube.data.copy()
    extra.reshape(-1)[ref["bin_4d_idx"][-1]] += 1
    with pytest.raises(workloads.CheckFailed):
        workloads.check_cube(Cube(extra, cube.coords, cube.dims), *args)

    shifted = {k: v + 1e-9 for k, v in cube.coords.items()}
    with pytest.raises(workloads.CheckFailed):
        workloads.check_cube(Cube(cube.data, shifted, cube.dims), *args)


def test_sparse_histogram_matches_histogramdd():
    rng = np.random.default_rng(0)
    x = rng.uniform(-100, 2200, 50_000)
    y = rng.uniform(-100, 2200, 50_000)
    x[:3] = [0.0 - 2048 / 200, 2048 - 2048 / 200, 1024.0]  # first/last edge
    centers = [gen.bin_centers(50, 0.0, 2048.0)] * 2
    edges = [gen.centers_to_edges(c) for c in centers]
    want, _ = np.histogramdd(np.stack([x, y], 1), bins=edges)
    idx, cnt = gen.sparse_histogram([x, y], centers)
    got = np.zeros(want.size)
    got[idx] = cnt
    np.testing.assert_array_equal(got.reshape(want.shape), want)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


class _FakeTracer:
    spans = [{"pass": 1, "name": "binning.bin_dataframe", "dur_s": 1.0,
              "run_info": {"strategy": "driver", "route_s": 0.1,
                           "spill_write_s": 0.2, "bincount_s": 0.3}}]

    def total(self, name, k):
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)


class _FakeWorkload:
    def part(self, name):
        return None


def test_per_layer_values_are_declared_metrics():
    out = run.layer_values(_FakeWorkload(), _FakeTracer(), 1, [])
    assert set(out) <= set(run.PER_LAYER)
    assert out["binning.route_driver"] == 1
    assert out["binning.combine_s"] == pytest.approx(0.3)
