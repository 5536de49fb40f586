"""The benchmark workloads: set-up, operations and output checks.

A workload is one or more parts (``gen.WORKLOADS``) driven as one analyst
session would drive them: ``load`` (the set-up: read the generated inputs
and fill the cache), then passes of ``run_op`` over ``OPS`` back to back,
each output handed to ``check``, which raises ``CheckFailed`` when it is
wrong.  Library calls are wrapped in ``self.span(<module>.<function>)``; the
span is a no-op unless the run is traced.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import numpy as np

import gen


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _no_span(name):
    return contextlib.nullcontext({})


def _occupied(flat: np.ndarray) -> int:
    """Nonzero cells of a float array, counted on its bits (several times
    faster than on the floats; counts are never -0.0)."""
    return np.count_nonzero(flat.view(f"i{flat.itemsize}"))


def check_cube(cube, centers: list[np.ndarray], ref_idx: np.ndarray,
               ref_cnt: np.ndarray, what: str) -> None:
    """The cube must be the reference histogram, cell for cell: same bin
    centres, same occupied cells, same counts."""
    _require(cube.data.shape == tuple(c.size for c in centers),
             f"{what}: shape {cube.data.shape}")
    for ax, c in zip(cube.dims, centers):
        _require(np.array_equal(np.asarray(cube.coords[ax]), c),
                 f"{what}: bin centres of {ax} differ from the spec")
    flat = cube.data.reshape(-1)
    occupied = _occupied(flat)
    _require(occupied == ref_idx.size,
             f"{what}: {occupied} occupied cells, expected {ref_idx.size}")
    _require(np.array_equal(flat[ref_idx], ref_cnt),
             f"{what}: counts differ from the numpy reference")


class Part:
    """Base: generated inputs in ``data_dir``, described by ``meta.json``."""

    name = ""
    OPS: tuple[str, ...] = ()

    def __init__(self, data_dir: str, span=None) -> None:
        self.data_dir = data_dir
        with open(os.path.join(data_dir, "meta.json")) as fh:
            self.meta = json.load(fh)
        ref = os.path.join(data_dir, "reference.npz")
        self.ref = dict(np.load(ref)) if os.path.exists(ref) else {}
        self.span = span or _no_span
        self.spark = None

    @property
    def rows(self) -> int:
        return int(self.meta["rows"])

    def load(self, spark) -> None:
        self.spark = spark

    def run_op(self, op: str):
        return getattr(self, f"op_{op}")()

    def check(self, op: str, out) -> None:
        getattr(self, f"check_{op}")(out)

    def _cache_parquet(self, name: str, partitions: int | None = None):
        df = self.spark.read.parquet(os.path.join(self.data_dir, name))
        if partitions:
            df = df.repartition(partitions)
        df = df.cache()
        df.count()
        return df

    def _bin(self, df, spec, **kw):
        from sed_binning_spark.binning import binning

        bins, axes, ranges = spec
        with self.span("binning.bin_dataframe") as rec:
            cube = binning.bin_dataframe(df, bins=bins, axes=axes, ranges=ranges, **kw)
        rec["run_info"] = dict(binning.LAST_RUN_INFO)
        return cube


def _centers(spec) -> list[np.ndarray]:
    bins, _, ranges = spec
    return [gen.bin_centers(n, *r) for n, r in zip(bins, ranges)]


class DenseBin(Part):
    """Cached uniform events binned into the reference's 100^4 cube, which
    takes the dense driver sorted-spill route.  No loader, no calibration
    and no Python crossing: nearly all work is in ``binning``'s combine."""

    name = "dense_bin"
    OPS = ("bin_4d",)

    def load(self, spark) -> None:
        super().load(spark)
        self.ev = self._cache_parquet("events")

    def op_bin_4d(self):
        return self._bin(self.ev, gen.BIN_4D)

    def check_bin_4d(self, cube) -> None:
        check_cube(cube, _centers(gen.BIN_4D), self.ref["bin_4d_idx"],
                   self.ref["bin_4d_cnt"], "bin_4d")


# Calibration constants of the reference workflow (the same literals the
# repository's headline queries use).
_K_CALIB = {"rstart": 0.0, "cstart": 0.0, "x_center": 1024.0, "y_center": 1024.0,
            "kx_scale": 0.0102, "ky_scale": 0.0097, "rstep": 1.0, "cstep": 1.0}
_E_CORR = {"correction_type": "spherical", "center": (1024.0, 1024.0),
           "amplitude": 2.5, "diameter": 3000.0}
_E_FIT = {"d": 1.0, "t0": 1e-7, "E0": 20.0, "binwidth": 4.125e-12, "binning": 1,
          "energy_scale": "kinetic", "calib_type": "fit"}
_DELAY_CALIB = {"adc_range": (2000.0, 20000.0), "delay_range": (-5.0, 5.0)}
WORKFLOW_4D = ([100, 100, 100, 100], ["kx", "ky", "energy", "delay"],
               [(-12.0, 12.0), (-12.0, 12.0), (20.0, 60.0), (-6.0, 6.0)])


class CalibWorkflow(Part):
    """The reference's full calibrate-then-bin chain: jitter, the
    ``apply_dfield`` pandas_udf (a Python crossing), k-axis, energy
    correction, energy and delay, then a 4-D histogram.  The
    pandas_udf keeps the router from estimating rows, so the 4-D cube takes
    the shuffle route."""

    name = "calib_workflow"
    OPS = ("inv_dfield", "workflow_4d")

    def __init__(self, data_dir: str, span=None) -> None:
        super().__init__(data_dir, span)
        self.dfield = None
        self.first = {}  # op -> occupied cells of its first output
        self.kept = None  # events the chain keeps inside the cube's ranges

    def load(self, spark) -> None:
        super().load(spark)
        self.ev = self._cache_parquet("events")

    def op_inv_dfield(self):
        from sed_binning_spark.calibration.momentum import generate_inverse_dfield
        from sed_binning_spark.calibration.momentum_fit import transform_fields

        n, det = self.meta["dfield_grid"], self.meta["detector"]
        fr, fc = transform_fields((n, n), "rotation", angle=5.0)
        with self.span("calibration.generate_inverse_dfield"):
            self.dfield = generate_inverse_dfield(
                fr, fc, bin_ranges=((0, det), (0, det)),
                detector_ranges=((0, det), (0, det)))
        return self.dfield

    def chain(self):
        from sed_binning_spark.calibration.delay import append_delay_axis
        from sed_binning_spark.calibration.energy import (
            append_energy_axis, apply_energy_correction)
        from sed_binning_spark.calibration.momentum import append_k_axis, apply_dfield
        from sed_binning_spark.core.dfops import apply_jitter

        det = self.meta["detector"]
        with self.span("calibration.chain_build"):
            df = apply_jitter(self.ev, cols=["X", "Y", "t"],
                              cols_jittered=["X", "Y", "t"], amps=0.5, seed=42)
            df = apply_dfield(df, self.dfield, detector_ranges=((0, det), (0, det)))
            df, _ = append_k_axis(df, _K_CALIB)
            df, _ = apply_energy_correction(df, _E_CORR)
            df, _ = append_energy_axis(df, _E_FIT, tof_column="tm")
            df, _ = append_delay_axis(df, _DELAY_CALIB)
        return df

    def op_workflow_4d(self):
        return self._bin(self.chain(), WORKFLOW_4D)

    def _kept_events(self) -> int:
        """Events of the chain inside every range of the workflow cube (first
        edge to last, both included, as the engine bins)."""
        from pyspark.sql import functions as F

        cond = F.lit(True)
        for ax, c in zip(WORKFLOW_4D[1], _centers(WORKFLOW_4D)):
            e = gen.centers_to_edges(c)
            cond = cond & F.col(ax).between(float(e[0]), float(e[-1]))
        return self.chain().where(cond).count()

    def _check_repeat(self, op: str, arr: np.ndarray) -> None:
        flat = arr.reshape(-1)
        if op not in self.first:
            nz = np.flatnonzero(flat)
            self.first[op] = (arr.shape, nz, flat[nz])
            return
        shape, idx, vals = self.first[op]
        _require(arr.shape == shape and _occupied(flat) == idx.size
                 and np.array_equal(flat[idx], vals),
                 f"{op}: output differs from the first pass")

    def check_inv_dfield(self, dfield) -> None:
        det = self.meta["detector"]
        _require(dfield.shape == (2, det, det), f"inv_dfield: shape {dfield.shape}")
        _require(bool(np.isfinite(dfield[:, det // 2, det // 2]).all()),
                 "inv_dfield: no value at the detector centre")
        # NaN marks detector pixels the field does not reach; compare as equal
        self._check_repeat("inv_dfield", np.nan_to_num(dfield, nan=-1.0))

    def check_workflow_4d(self, cube) -> None:
        _require(cube.data.shape == tuple(WORKFLOW_4D[0]),
                 f"workflow_4d: shape {cube.data.shape}")
        if self.kept is None:  # counted once per run, on the first pass
            self.kept = self._kept_events()
        total = int(cube.data.sum(dtype=np.float64))
        _require(total == self.kept > 0,
                 f"workflow_4d: cube total {total} != {self.kept} kept events")
        self._check_repeat("workflow_4d", cube.data)


class MpesIngest(Part):
    """Instrument HDF5 files through the mpes loader: the pure-Python HDF5
    reader inside ``mapInPandas``, a 3-D histogram, the normalization
    histogram from the timed frame, and export of the normalized cube to
    HDF5, TIFF and NeXus.  The only workload that writes files."""

    name = "mpes_ingest"
    OPS = ("load", "bin_3d", "normalize", "export")

    def load(self, spark) -> None:
        super().load(spark)
        folder = os.path.join(self.data_dir, "mpes")
        self.paths = sorted(os.path.join(folder, f) for f in os.listdir(folder))
        self.out_dir = os.path.join(self.data_dir, "export")

    def op_load(self):
        from sed_binning_spark.loaders.mpes import MpesLoader

        with self.span("loaders.read_dataframe"):
            self.ev, self.timed, _ = MpesLoader(self.spark).read_dataframe(
                files=self.paths, time_stamps=True)
        return self.ev, self.timed

    def op_bin_3d(self):
        self.cube = self._bin(self.ev, gen.BIN_3D)
        return self.cube

    def op_normalize(self):
        from sed_binning_spark.binning.binning import (
            normalization_histogram_from_timed_dataframe)

        with self.span("binning.normalization_histogram"):
            self.norm = normalization_histogram_from_timed_dataframe(
                self.timed, "t", _centers(gen.BIN_3D)[2], time_unit=0.001)
        self.normalized = self.cube / self.norm
        return self.norm

    def op_export(self):
        from sed_binning_spark.io.hdf5 import to_h5
        from sed_binning_spark.io.nexus import to_nexus
        from sed_binning_spark.io.tiff import to_tiff

        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        files = {}
        for fn, ext in ((to_h5, "h5"), (to_tiff, "tiff"), (to_nexus, "nxs")):
            path = os.path.join(self.out_dir, f"cube.{ext}")
            with self.span(f"io.{fn.__name__}"):
                fn(self.normalized, path)
            files[ext] = path
        return files

    def check_load(self, frames) -> None:
        ev, timed = frames
        _require({"X", "Y", "t", "ADC"} <= set(ev.columns), "load: stream columns")
        _require(timed is not None, "load: no timed dataframe")

    def check_bin_3d(self, cube) -> None:
        check_cube(cube, _centers(gen.BIN_3D), self.ref["bin_3d_idx"],
                   self.ref["bin_3d_cnt"], "bin_3d")

    def check_normalize(self, norm) -> None:
        expect = np.zeros(gen.BIN_3D[0][2])
        expect[self.ref["norm_idx"]] = self.ref["norm_cnt"] * 0.001
        _require(np.allclose(norm.data, expect, rtol=1e-12, atol=0.0),
                 "normalize: histogram differs from the numpy reference")

    def check_export(self, files) -> None:
        need = self.normalized.data.size * 4  # float32 at least
        for ext, path in files.items():
            size = os.path.getsize(path) if os.path.exists(path) else 0
            _require(size >= need, f"export: {ext} file has {size} bytes, "
                                   f"cube needs {need}")
        self.export_bytes = sum(os.path.getsize(p) for p in files.values())


class Curation(Part):
    """Exact deduplication of a planted corpus: one short groupBy job, so
    fixed per-job overhead shows."""

    name = "curation"
    OPS = ("exact_dedup",)

    def load(self, spark) -> None:
        from sed_binning_spark.session import default_parallelism

        super().load(spark)
        self.docs = self._cache_parquet("documents.parquet",
                                        min(8, default_parallelism()))

    def op_exact_dedup(self):
        from sed_binning_spark.pipeline.dedup import exact_dedup

        with self.span("pipeline.exact_dedup"):
            return exact_dedup(self.docs).select("kept_id", "n_dups").toArrow()

    def check_exact_dedup(self, tbl) -> None:
        planted = self.ref["planted_exact"]
        n_dups = tbl.column("n_dups").to_numpy()
        _require(tbl.num_rows == self.rows - len(planted),
                 f"exact_dedup: {tbl.num_rows} rows, expected "
                 f"{self.rows - len(planted)}")
        _require(int(n_dups.sum()) == self.rows, "exact_dedup: n_dups total")
        kept = np.sort(tbl.column("kept_id").to_numpy()[n_dups == 2])
        _require(np.array_equal(kept, np.sort(planted[:, 0])),
                 "exact_dedup: duplicate groups differ from the planted ones")


PARTS = {p.name: p for p in (DenseBin, CalibWorkflow, MpesIngest, Curation)}


class Workload:
    """The parts of one workload, sharing one session; ops run part by part."""

    def __init__(self, name: str, data_dir: str, span=None) -> None:
        self.name = name
        self.parts = [PARTS[p](os.path.join(data_dir, p), span)
                      for p in gen.WORKLOADS[name]]
        self.OPS = tuple(op for p in self.parts for op in p.OPS)
        self._owner = {op: p for p in self.parts for op in p.OPS}

    @property
    def rows(self) -> int:
        """Input events plus documents."""
        return sum(p.rows for p in self.parts)

    def part(self, name: str):
        return next((p for p in self.parts if p.name == name), None)

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def run_op(self, op: str):
        return self._owner[op].run_op(op)

    def check(self, op: str, out) -> None:
        self._owner[op].check(op, out)
