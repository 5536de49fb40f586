"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the analytic workload this engine runs (wide scans +
hash aggregations + a few window ops): AQE on (runtime shuffle re-planning,
skew-join splitting), Arrow for every Python<->JVM crossing, and a shuffle
partition count that AQE can coalesce downward. On a real cluster the same
session settings hold; only master/memory come from the environment.
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
_LOCAL_MEMORY_CONF = {
    "spark.driver.maxResultSize": "4g",
    # madvise-mode THP for the whole local JVM (heap + code cache):
    # first-touch of a fresh guest page costs a hypervisor round-trip on a
    # memory-overcommitted host (measured as low as 7 MB/s in episodes);
    # THP faults back 2 MB at a time — 512x fewer round-trips (400 MB
    # first-touch 74 s -> 2.3 s measured in one such episode). The guest
    # THP policy is madvise-only, so this is a no-op for page-for-page
    # behaviour on healthy hosts.
    "spark.driver.extraJavaOptions": "-XX:+UseTransparentHugePages",
    # ... and the same for the Python workers via glibc's malloc tunable
    # (glibc 2.35+): worker startup faults ~100 MB per process (numpy +
    # pandas + Arrow buffers) x one worker per core, which under the same
    # hypervisor episodes was the dominant cost of every mapInPandas-heavy
    # query's first run. THP-backed arenas fault 2 MB at a time.
    "spark.executorEnv.GLIBC_TUNABLES": "glibc.malloc.hugetlb=1",
}

# A caller's value for this key gets the local default's flags appended
# instead of replacing them
_JAVA_OPTS = "spark.driver.extraJavaOptions"


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
            ``spark.driver.extraJavaOptions`` instead of dropped).
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
    if local:
        conf.update(_LOCAL_MEMORY_CONF)
        conf["spark.driver.memory"] = _local_driver_memory()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * default_parallelism()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
        if local and _JAVA_OPTS in extra_conf:
            flag = _LOCAL_MEMORY_CONF[_JAVA_OPTS]
            if flag not in extra_conf[_JAVA_OPTS].split():
                conf[_JAVA_OPTS] = f"{extra_conf[_JAVA_OPTS]} {flag}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
