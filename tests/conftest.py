"""Shared Spark session for the test suite (local[4], small shuffle count).

Mirrors the reference's test strategy (SURVEY.md §5): kernel-vs-oracle golden
tests against NumPy, operator unit tests incl. error paths, and randomized
inputs with pinned seeds.
"""

from __future__ import annotations

import faulthandler
import os

import numpy as np
import pandas as pd
import pytest

from sed_binning_spark.session import get_spark

# Stall watchdog: a test still running after this many seconds gets every
# thread's stack dumped to the terminal (the run goes on), so a hang shows
# where it sits instead of ending in a truncated dot line. Far above the
# slowest test (~70 s) and well under the suite's 2670 s budget.
_STALL_DUMP_S = 600
_stall_out = None


def pytest_configure(config):
    # pytest captures fd 2 while a test runs; keep a copy of the terminal's
    # stderr, taken here while capture is suspended
    global _stall_out
    _stall_out = os.fdopen(os.dup(2), "w")


@pytest.fixture(autouse=True)
def _stall_watchdog():
    faulthandler.dump_traceback_later(_STALL_DUMP_S, exit=False, file=_stall_out)
    yield
    faulthandler.cancel_dump_traceback_later()


def _test_driver_mem() -> str:
    """JVM heap of the test session: SPARK_GRAFT_DRIVER_MEM if set, else a
    quarter of host RAM, at most 4g (the rule the benchmark uses). Under
    the library's 32g default, G1 keeps growing the heap over a full run —
    measured past 14 GB resident on a 16 GB host, where the kernel then
    OOM-kills the JVM and every later test fails with ConnectionRefused."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(host_gb / 4)))}g"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="sed-binning-spark-tests", master="local[4]", shuffle_partitions=4,
                     extra_conf={"spark.driver.memory": _test_driver_mem()})


@pytest.fixture(scope="session")
def events_pdf():
    """Reference-shaped synthetic event table (F-1 fixture semantics):
    X/Y uniform [0,2048], t uniform [60000,120000], ADC uniform [2000,20000],
    monotone timestamps, pinned seed."""
    rng = np.random.default_rng(42)
    n = 20_000
    return pd.DataFrame(
        {
            "X": rng.uniform(0, 2048, n),
            "Y": rng.uniform(0, 2048, n),
            "t": rng.uniform(60000, 120000, n),
            "ADC": rng.uniform(2000, 20000, n),
            "timeStamps": np.cumsum(rng.exponential(0.001, n)) + 1.6e9,
            "file_id": np.repeat(np.arange(4), n // 4).astype("int64"),
            "row_id": np.tile(np.arange(n // 4), 4).astype("int64"),
        },
    )


@pytest.fixture(scope="session")
def events_df(spark, events_pdf):
    return spark.createDataFrame(events_pdf).cache()
