"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship calibrate-and-bin chain on sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-pipeline operators); ``oracle_sql()`` gives the
DuckDB twin of each. Both read the :mod:`queries` registry, where every
query is declared once, beside its builder and its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queries import REGISTRY
from queries._common import _events
from queries.calibration import _DELAY_CALIB, _E_FIT, _K_CALIB
from sed_binning_spark.binning.binning import bin_dataframe_sparse
from sed_binning_spark.calibration.delay import add_offsets as delay_add_offsets
from sed_binning_spark.calibration.delay import append_delay_axis
from sed_binning_spark.calibration.energy import append_energy_axis
from sed_binning_spark.calibration.momentum import append_k_axis
from sed_binning_spark.core.dfops import apply_jitter


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: load sf0.001 events → derive coordinates → seeded jitter →
    momentum k-axis → energy calibration → delay calibration + offsets →
    filtered 2-D sparse histogram on (energy, delay)."""
    ev = _events(spark, "/root/testdata/sf0.001")
    ev = apply_jitter(ev, cols=["X", "Y"], cols_jittered=["X", "Y"], amps=0.5, seed=42)
    ev, _ = append_k_axis(ev, _K_CALIB)
    ev, _ = append_energy_axis(ev, _E_FIT)
    ev, _ = append_delay_axis(ev, _DELAY_CALIB)
    ev, _ = delay_add_offsets(ev, constant=0.25, flip_delay_axis=True)
    out = bin_dataframe_sparse(
        ev,
        bins=[120, 40],
        axes=["energy", "delay"],
        ranges=[(20.0, 60.0), (-8.0, 8.0)],
        filters=[{"col": "ADC", "lower_bound": 2000.0, "upper_bound": 20000.0}],
        count_column="cnt",
    )
    return out.select(
        F.col("energy").alias("b0"), F.col("delay").alias("b1"), "cnt",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle() for name, q in REGISTRY.items()}
