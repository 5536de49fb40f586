"""Seeded input generators and reference answers for the benchmark workloads.

The references are computed here with NumPy from the generated values, not
with the program under test (the mpes files are written with the program's
own HDF5 writer, the only one available).  ``generate_part(part, seed,
out_dir)`` writes one part's inputs plus ``meta.json`` (sizes) and
``reference.npz`` (expected answers) into ``out_dir``; the same seed always
gives byte-identical files.

Run as a script it does the same for every part of a workload and prints
the seconds it took, so the benchmark can generate in a child process and
keep the generator's memory out of the driver's peak RSS::

    python3 perfbench/gen.py --workload sed_workflow --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# Event-table distribution of the reference benchmark (BASELINE.md).
EVENT_RANGES = {
    "X": (0.0, 2048.0),
    "Y": (0.0, 2048.0),
    "t": (60000.0, 120000.0),
    "ADC": (2000.0, 20000.0),
}

# Sizes per part, scaled so one run (JVM start, three set-ups, a cold pass
# and three warm passes) takes about a minute on a 4-core host.
SIZES = {
    # > 4e6 rows, so the 4-D cube takes the dense driver sorted-spill route
    # and not the small-rows scatter
    "dense_bin": {"events": 4_200_000, "files": 8},
    "calib_workflow": {"events": 100_000, "files": 4, "dfield_grid": 512,
                       "detector": 2048},
    "mpes_ingest": {"files": 2, "events_per_file": 25_000, "ms_per_file": 1000,
                    "chunk": 65536},
    "curation": {"docs": 2_500, "exact_frac": 0.10, "near_frac": 0.10,
                 "vocab": 4096},
}

# A workload is one or more parts driven through one session.
WORKLOADS = {
    "sed_workflow": ("dense_bin", "calib_workflow"),
    "ingest_curation": ("mpes_ingest", "curation"),
}

# Binning specs: (bins, axes, ranges) exactly as the workloads pass them.
BIN_4D = ([100, 100, 100, 100], ["X", "Y", "t", "ADC"],
          [EVENT_RANGES[a] for a in ("X", "Y", "t", "ADC")])
BIN_3D = ([100, 100, 200], ["X", "Y", "t"],
          [EVENT_RANGES[a] for a in ("X", "Y", "t")])

_PART_STREAM = {"dense_bin": 1, "calib_workflow": 2, "mpes_ingest": 3,
                "curation": 4}


def rng_for(part: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _PART_STREAM[part]])


def bin_centers(n: int, lo: float, hi: float) -> np.ndarray:
    """Centres of ``n`` bins whose first/last centres span ``[lo, hi)``."""
    return np.linspace(lo, hi, n, endpoint=False)


def centers_to_edges(c: np.ndarray) -> np.ndarray:
    edges = np.empty(c.size + 1)
    edges[1:-1] = (c[1:] + c[:-1]) / 2
    edges[0] = c[0] - (c[1] - c[0]) / 2
    edges[-1] = c[-1] + (c[-1] - c[-2]) / 2
    return edges


def sparse_histogram(columns: list[np.ndarray], centers: list[np.ndarray]):
    """Occupied cells of the histogram of ``columns`` on bins with the given
    centres: ``(flat_index, count)``, both sorted by flat index.  Bins are
    left-closed, the last one also right-closed; values outside are dropped."""
    shape = [c.size for c in centers]
    flat = np.zeros(len(columns[0]), dtype=np.int64)
    keep = np.ones(len(columns[0]), dtype=bool)
    for col, c, n in zip(columns, centers, shape):
        x = np.asarray(col, dtype=np.float64)
        e = centers_to_edges(c)
        # arithmetic guess, then corrected against the edges themselves:
        # idx is the last edge <= x (a searchsorted, without its cost)
        idx = np.floor((x - e[0]) * (n / (e[-1] - e[0]))).astype(np.int64)
        np.clip(idx, 0, n - 1, out=idx)
        idx -= x < e[idx]
        idx += x >= e[idx + 1]
        np.clip(idx, 0, n - 1, out=idx)
        keep &= (x >= e[0]) & (x <= e[-1])
        flat = flat * n + idx
    return np.unique(flat[keep], return_counts=True)


def _uniform_events(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {a: rng.uniform(lo, hi, n) for a, (lo, hi) in EVENT_RANGES.items()}


def _write_parquet_parts(cols: dict[str, np.ndarray], out_dir: str, files: int,
                         name: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, name)
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, files + 1).astype(int)

    def write(i: int) -> None:
        lo, hi = bounds[i], bounds[i + 1]
        tbl = pa.table({k: v[lo:hi] for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="none")

    with ThreadPoolExecutor(4) as ex:
        list(ex.map(write, range(files)))
    return path


def gen_dense_bin(seed: int, out_dir: str) -> dict:
    size = SIZES["dense_bin"]
    ev = _uniform_events(rng_for("dense_bin", seed), size["events"])
    _write_parquet_parts(ev, out_dir, size["files"], "events")
    bins, axes, ranges = BIN_4D
    centers = [bin_centers(n, *r) for n, r in zip(bins, ranges)]
    idx, cnt = sparse_histogram([ev[a] for a in axes], centers)
    np.savez(os.path.join(out_dir, "reference.npz"), bin_4d_idx=idx, bin_4d_cnt=cnt)
    return {"rows": size["events"], **size}


def gen_calib_workflow(seed: int, out_dir: str) -> dict:
    size = SIZES["calib_workflow"]
    ev = _uniform_events(rng_for("calib_workflow", seed), size["events"])
    _write_parquet_parts(ev, out_dir, size["files"], "events")
    return {"rows": size["events"], **size}


def _mpes_file(rng: np.random.Generator, events: int, n_ms: int) -> dict:
    streams = _uniform_events(rng, events)
    # msMarkers[i] = number of events recorded by the end of millisecond i
    cuts = np.sort(rng.choice(np.arange(1, events), n_ms - 1, replace=False))
    markers = np.append(cuts, events).astype(np.int64)
    return {"streams": streams, "markers": markers}


def gen_mpes_ingest(seed: int, out_dir: str) -> dict:
    """Instrument-shaped mpes HDF5 files, written by the program's own
    ``io.hdf5_write.H5Writer`` (the only HDF5 writer available without
    h5py): four float64 ``Stream_*`` datasets with ``Name`` attributes,
    deflate-compressed 64 Ki chunks, ``msMarkers`` and a
    ``FirstEventTimeStamp`` root attribute."""
    from sed_binning_spark.io.hdf5_write import H5Writer

    size = SIZES["mpes_ingest"]
    rng = rng_for("mpes_ingest", seed)
    path = os.path.join(out_dir, "mpes")
    os.makedirs(path, exist_ok=True)
    axes = list(EVENT_RANGES)
    timed_t = []
    cols = {a: [] for a in axes}
    for i in range(size["files"]):
        f = _mpes_file(rng, size["events_per_file"], size["ms_per_file"])
        w = H5Writer()
        for j, a in enumerate(axes):
            w.add_dataset(f"/Stream_{j}", f["streams"][a],
                          chunks=(size["chunk"],), deflate=True)
            w.add_attr(f"/Stream_{j}", "Name", a)
        w.add_dataset("/msMarkers", f["markers"])
        w.add_attr("/", "FirstEventTimeStamp",
                   f"2024-01-01T00:{i:02d}:00+00:00")
        w.write(os.path.join(path, f"Scan0001_{i}.h5"))
        # the loader reads every stream as float32: reference on those values
        for a in axes:
            cols[a].append(f["streams"][a].astype(np.float32))
        t32 = f["streams"]["t"].astype(np.float32)
        timed_t.append(t32[f["markers"] - 1])
    cols = {a: np.concatenate(v) for a, v in cols.items()}
    bins, axes3, ranges = BIN_3D
    centers = [bin_centers(n, *r) for n, r in zip(bins, ranges)]
    idx, cnt = sparse_histogram([cols[a] for a in axes3], centers)
    # normalization histogram over the timed frame (one row per ms marker)
    tidx, tcnt = sparse_histogram([np.concatenate(timed_t)], [centers[2]])
    np.savez(os.path.join(out_dir, "reference.npz"), bin_3d_idx=idx,
             bin_3d_cnt=cnt, norm_idx=tidx, norm_cnt=tcnt)
    n_events = size["files"] * size["events_per_file"]
    return {"rows": n_events, **size}


_LANGS = ["en", "de", "fr", "es", "zh"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def gen_curation(seed: int, out_dir: str) -> dict:
    """A corpus with the sf0.1 ``documents`` schema.

    ``exact_frac`` of the documents are byte copies of distinct originals and
    ``near_frac`` are copies of other distinct originals with two words
    substituted; the rest are unique random word sequences over a vocabulary
    large enough that unrelated documents share almost no 3-shingles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    size = SIZES["curation"]
    rng = rng_for("curation", seed)
    vocab = np.array(_vocab(rng, size["vocab"]))
    n = size["docs"]
    n_exact = int(n * size["exact_frac"])
    n_near = int(n * size["near_frac"])
    n_base = n - n_exact - n_near
    base = []
    for _ in range(n_base):
        base.append(list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 90)))]))
    src = rng.permutation(n_base)[: n_exact + n_near]
    texts = [" ".join(w) for w in base]
    origin = list(range(n_base))  # index into `texts` each doc copies
    kinds = ["base"] * n_base
    for k, b in enumerate(src):
        words = list(base[b])
        if k >= n_exact:
            for pos in rng.choice(len(words), 2, replace=False):
                words[pos] = vocab[(np.searchsorted(vocab, words[pos]) + 1
                                    + int(rng.integers(0, len(vocab) - 1))) % len(vocab)]
        texts.append(" ".join(words))
        origin.append(int(b))
        kinds.append("exact" if k < n_exact else "near")
    order = rng.permutation(n)  # doc_id = position after shuffling
    doc_id_of = np.empty(n, dtype=np.int64)
    doc_id_of[order] = np.arange(n)
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"),
                   compression="none")
    planted = {"exact": [], "near": []}
    for j in range(n_base, n):
        a, b = int(doc_id_of[j]), int(doc_id_of[origin[j]])
        planted[kinds[j]].append([min(a, b), max(a, b)])

    np.savez(os.path.join(out_dir, "reference.npz"),
             planted_exact=np.array(planted["exact"], dtype=np.int64),
             planted_near=np.array(planted["near"], dtype=np.int64))
    return {"rows": n, **size}


GENERATORS = {
    "dense_bin": gen_dense_bin,
    "calib_workflow": gen_calib_workflow,
    "mpes_ingest": gen_mpes_ingest,
    "curation": gen_curation,
}


def generate_part(part: str, seed: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    meta = GENERATORS[part](seed, out_dir)
    meta.update(part=part, seed=int(seed))
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    return meta


def generate(workload: str, seed: int, out_dir: str) -> None:
    """Inputs of every part of ``workload``, one subdirectory per part."""
    for part in WORKLOADS[workload]:
        generate_part(part, seed, os.path.join(out_dir, part))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t = time.perf_counter()
    generate(args.workload, args.seed, args.out)
    print(f"{time.perf_counter() - t:.6f}")  # generation seconds


if __name__ == "__main__":
    main()
