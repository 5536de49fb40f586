"""K2: HDF5 cube sink/source (reference: sed/io/hdf5.py:84-190), plus an
always-available NPZ twin.

The .h5 path needs no optional dependency: the engine's own pure-Python
HDF5 writer/reader (:mod:`sed_binning_spark.io.hdf5_write` /
``hdf5_read``) produce and consume the reference's classic-format file
layout. The NPZ pair implements the SAME logical contract — binned data +
per-axis coordinate arrays + recursive metadata — as a non-HDF5
alternative.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

from sed_binning_spark.cube import Cube


def to_h5(data: Cube, faddr: str | Path, mode: str = "w") -> None:
    """Cube + axes + recursive metadata dict → HDF5 (to_h5,
    sed/io/hdf5.py:84-130): datasets ``binned/BinnedData``, one
    ``binned/axes/ax{N}`` per axis, metadata group mirroring the dict.
    The file is written whole: ``mode`` "a" works only on a new file."""
    from sed_binning_spark.io.hdf5_write import H5Writer

    if mode not in ("w", "x", "w-", "a"):
        raise ValueError(
            f"mode {mode!r} is not a write mode; the built-in writer "
            "supports w / x / w- (and a on a new file)",
        )
    if mode in ("x", "w-") and Path(faddr).exists():
        raise FileExistsError(f"{faddr} exists (mode={mode!r})")
    if mode == "a" and Path(faddr).exists():
        raise NotImplementedError(
            "append mode is not supported; the built-in writer only "
            "creates files whole (mode 'w')",
        )
    w = H5Writer()
    w.add_dataset("/binned/BinnedData", data.data)
    w.add_attr("/binned/BinnedData", "typ", "float32")
    for i, dim in enumerate(data.dims):
        w.add_dataset(f"/binned/axes/ax{i}", np.asarray(data.coords[dim]))
        w.add_attr(f"/binned/axes/ax{i}", "name", dim)
    if data.attrs:
        _write_meta_tree(w, "/metadata", data.attrs)
    w.write(str(faddr))


def load_h5(faddr: str | Path, mode: str = "r") -> Cube:
    """HDF5 → Cube (load_h5, sed/io/hdf5.py:133-190). ``mode`` is kept
    for the reference's signature; the file is only read."""
    from sed_binning_spark.io.hdf5_read import H5File

    with H5File(str(faddr)) as fh:
        paths = set(fh.visit())
        data = fh.read("/binned/BinnedData")
        dims, coords = [], {}
        for i in range(data.ndim):
            name = fh.attrs(f"/binned/axes/ax{i}").get("name", f"ax{i}")
            dims.append(name)
            coords[name] = fh.read(f"/binned/axes/ax{i}")
        attrs: dict = {}
        for p in sorted(paths):
            if p.startswith("/metadata/"):
                node = attrs
                *groups, leaf = p[len("/metadata/"):].split("/")
                for g in groups:
                    node = node.setdefault(g, {})
                val = fh.read(p)
                if val.dtype.kind == "S":
                    # decode EVERY element: a string-array value (file
                    # lists, run ids) must survive the round trip, not
                    # collapse to its first entry
                    decoded = [
                        bytes(b).decode("utf-8", "replace")
                        for b in val.ravel()
                    ]
                    node[leaf] = decoded[0] if val.ndim == 0 else decoded
                else:
                    node[leaf] = val.item() if val.ndim == 0 else val
    return Cube(data, coords, dims, attrs)


def _write_meta_tree(writer, prefix: str, meta: dict) -> None:
    """Recursive metadata dict -> nested groups of scalar/array datasets."""
    for k, v in meta.items():
        if isinstance(v, dict):
            _write_meta_tree(writer, f"{prefix}/{k}", v)
        else:
            try:
                writer.add_dataset(f"{prefix}/{k}", v)
            except (ValueError, TypeError):
                writer.add_dataset(f"{prefix}/{k}", str(v))


# ---------------------------------------------------------------------------
# NPZ twin (same contract, no optional deps)
# ---------------------------------------------------------------------------
def to_npz(data: Cube, faddr: str | Path) -> None:
    """Cube → .npz with the to_h5 contract: data + named axes + JSON attrs."""
    payload = {"BinnedData": data.data, "dims": np.array(list(data.dims))}
    for i, dim in enumerate(data.dims):
        payload[f"ax{i}"] = data.coords[dim]
    payload["attrs_json"] = np.array(json.dumps(data.attrs, default=_json_meta))
    np.savez_compressed(Path(faddr), **payload)


def _json_meta(obj):
    """JSON fallback that keeps numeric metadata NUMERIC: arrays become
    lists and numpy scalars plain numbers (default=str would stringify an
    array as its display text, silently corrupting e.g. calibration
    coefficient lists on the round trip); everything else degrades to str."""
    if isinstance(obj, np.ndarray):
        return obj.tolist()
    if isinstance(obj, np.generic):
        return obj.item()
    return str(obj)


def load_npz(faddr: str | Path) -> Cube:
    p = Path(faddr)
    # np.savez_compressed APPENDS .npz to any path lacking it, np.load does
    # not — resolve the same way the writer did so to_npz/load_npz
    # round-trip on the same faddr
    if not p.exists() and p.suffix != ".npz":
        p = p.with_name(p.name + ".npz")
    with np.load(p, allow_pickle=False) as z:
        data = z["BinnedData"]
        dims = [str(d) for d in z["dims"]]
        coords = {dim: z[f"ax{i}"] for i, dim in enumerate(dims)}
        attrs = json.loads(str(z["attrs_json"]))
    return Cube(data, coords, dims, attrs)
