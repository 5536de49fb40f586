"""IO sinks/sources for binned cubes (reference: sed/io/).

All sinks are driver-side: by construction the cube is small (≤ ~1e8
cells); the 100 TB of events never leaves Spark.

- :mod:`~sed_binning_spark.io.tiff` — K1: ImageJ-compatible float32 TIFF
  stacks (pure-NumPy baseline codec; no tifffile dependency)
- :mod:`~sed_binning_spark.io.hdf5` — K2: HDF5 sink/source on the
  engine's built-in HDF5 writer and reader, plus an NPZ twin with the
  same contract
- :mod:`~sed_binning_spark.io.nexus` — K3: NXmpes via pynxtools (gated)
- :func:`save` — K4: extension dispatch (.tiff/.h5/.npz/.nxs)
"""

from sed_binning_spark.io.dispatch import save
from sed_binning_spark.io.hdf5 import load_h5, load_npz, to_h5, to_npz
from sed_binning_spark.io.tiff import load_tiff, to_tiff

__all__ = ["save", "to_tiff", "load_tiff", "to_h5", "load_h5", "to_npz", "load_npz"]
