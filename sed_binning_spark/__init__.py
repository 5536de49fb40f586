"""sed_binning_spark — a PySpark-native engine with the query and
data-processing capabilities of OpenCOMPES/sed-binning.

The reference (at /root/reference, v0.4.0) processes multidimensional
single-event datastreams on Dask + pandas + Numba; this package provides the
same data model, operators, and query semantics re-expressed on Spark
DataFrames / Spark SQL, designed so every heavy operator is a Catalyst
expression that scales to multi-TB inputs unchanged:

- loading      -> spark.read over Parquet/CSV/JSON (+ HDF5 conversion layer)
- transforms   -> withColumn expression pipelines (calibration, corrections,
                  offsets, jitter); Python crosses the JVM boundary only for
                  grid interpolation and ``add_time_stamped_data``'s
                  ``np.interp`` (Arrow-batched pandas_udfs)
- binning      -> groupBy(bin-index exprs).count() -> dense hypercube (Cube)
- export       -> driver-side writers on the (small) collected cube

Beyond reference parity, `sed_binning_spark.pipeline` adds large-scale
training-data operators: dedup (exact/MinHash-LSH/SimHash/embedding),
similarity search, text analysis, and multimodal-column plumbing.
"""

from sed_binning_spark.cube import Cube
from sed_binning_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["Cube", "get_spark", "__version__"]
