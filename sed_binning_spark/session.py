"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the analytic workload this engine runs (wide scans +
hash aggregations + a few window ops): AQE on (runtime shuffle re-planning,
skew-join splitting), Arrow for every Python<->JVM crossing, and a shuffle
partition count that AQE can coalesce downward. On a real cluster the same
session settings hold; only master/memory come from the environment.

Every Python stage (HDF5 extraction, the ``apply_dfield`` grid UDF, the
searchsorted bin index, dedup and media ``mapInPandas``) pays a per-task
set-up cost before its function sees a row. Spark reuses each Python worker
between tasks, but every task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and through CPython 3.12 each of the ~15
zip importers over ``pyspark.zip``, the py4j zip and the spark-core jar then
re-parses its archive's central directory: 0.12-0.27 s per task on a 4-core
host, while the JVM task thread waits on the worker's socket. A local session
therefore starts its workers from ``sed_binning_spark._worker_daemon``, which
re-parses an archive only when the file changed (~0.2 ms per task), and puts
the directory holding this package on the workers' ``PYTHONPATH`` so that
daemon, and the library's own Python stages, import from any driver cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen so that local[N] testing exercises the same plan shapes
# (partial/final agg, broadcast joins, AQE coalescing) a 1000-executor run
# would produce. They are all overridable via extra_conf.
_DEFAULT_CONF = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge join to broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for pandas_udf / toPandas — mandatory for the few
    # operators that cross into Python (grid interpolation, searchsorted).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Small dimension tables (sector delays, calibration lookup tables)
    # should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Bound per-task input so a 100 TB scan yields ~1M reasonable tasks
    # instead of a few huge ones.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Sane default timezone behaviour for timestamp round-trips.
    "spark.sql.session.timeZone": "UTC",
    # PySpark 4.x wraps EVERY DataFrame/Column API call with a Python
    # stack walk plus two extra JVM round-trips to record the user call
    # site for error messages (pyspark.errors.utils._with_origin). The
    # expression-built query plans here make tens of thousands of API
    # calls per query construction, so the bookkeeping costs whole
    # seconds of driver time per plan — turn it off.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Read parquet TIMESTAMP(NANOS) columns as raw int64 nanoseconds (Spark
    # has no nanosecond timestamp type and refuses such files otherwise).
    # Exact integer nanos are also the right currency for oracle-exact
    # event-time arithmetic.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# In local mode the single JVM is driver AND all executors; Spark's 1g heap
# default buckles under cached event tables and wide aggregations. Only
# applied when THIS factory launches the JVM (a cluster manager or spark-
# submit would set these itself). spark.driver.memory comes from
# _local_driver_memory().
_LOCAL_CONF = {
    "spark.driver.maxResultSize": "4g",
    # madvise-mode THP for the whole local JVM (heap + code cache): the
    # guest THP policy is madvise-only, so without this flag the heap
    # faults 4 KB at a time. Measured on perfbench (4-core host, 10
    # alternating pairs each): without it sed_workflow setup_s, which
    # caches 4.2e6 events into the heap, rose 2.22 -> 2.86 s (median,
    # worse in 9 of 10) and ingest_curation pass_s 1.42 -> 1.59 s (worse
    # in 7 of 10).
    "spark.driver.extraJavaOptions": "-XX:+UseTransparentHugePages",
    # Python workers fork from the library's daemon (see the module
    # docstring), found through the directory that holds this package
    "spark.python.daemon.module": "sed_binning_spark._worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
}

# A caller's value for one of these keys gets the local default appended,
# joined by the given separator, instead of replacing it
_MERGED_KEYS = {"spark.driver.extraJavaOptions": " ", "spark.executorEnv.PYTHONPATH": os.pathsep}


def _host_ram_bytes() -> int | None:
    """MemTotal from /proc/meminfo; None where there is no procfs."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _local_driver_memory() -> str:
    """Heap of a local JVM: SPARK_GRAFT_DRIVER_MEM if set, else half of host
    RAM, at most 32g (32g where RAM is unknown). A heap sized past physical
    memory lets G1 keep growing in a long-lived driver until the kernel
    OOM-kills the JVM."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = _host_ram_bytes()
    if ram is None:
        return "32g"
    return f"{max(1024, min(32 * 1024, ram // 2 // 2**20))}m"


def default_parallelism() -> int:
    """Parallelism hint: SPARK_GRAFT_CPUS if set, else host CPU count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "sed-binning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    Args:
        app_name: Spark application name.
        master: master URL; defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
            ``local[*]``) when not already running under a cluster manager.
        shuffle_partitions: default shuffle partition count; defaults to
            2x parallelism (AQE coalesces down, skew splits up).
        extra_conf: extra Spark conf entries (override defaults; in local
            mode the THP flag is appended to a given
            ``spark.driver.extraJavaOptions`` and the package directory to
            a given ``spark.executorEnv.PYTHONPATH`` instead of dropped).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)

    conf = dict(_DEFAULT_CONF)
    local = master.startswith("local")
    local_conf = _LOCAL_CONF if local else {}
    conf.update(local_conf)
    if local:
        conf["spark.driver.memory"] = _local_driver_memory()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * default_parallelism()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
        for key, sep in _MERGED_KEYS.items():
            if key in local_conf and key in extra_conf:
                ours, theirs = local_conf[key], extra_conf[key].strip()
                if ours not in theirs.split(sep):
                    conf[key] = sep.join(filter(None, (theirs, ours)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
