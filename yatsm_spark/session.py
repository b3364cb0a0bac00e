"""SparkSession factory with the engine's required configuration.

Every entry point (tests, jobs/, bench.py, __spark_entry__.py) goes through
:func:`get_spark` so determinism-critical confs (UTC timezone, Arrow on,
AQE on) are pinned in exactly one place.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that affect RESULTS (not just speed) — never override these.
_CORRECTNESS_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Perf confs — overridable via extra_confs.
_PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Rows per Arrow batch handed to a pandas kernel: large enough to
    # amortize the per-batch Python call over many url runs, small enough
    # to bound worker memory.  Runs that cross a batch are carried over
    # (plans/__init__.py::map_key_runs), so results do not depend on it.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def _local_cores() -> int:
    """Cores this process may run on (the affinity mask, not the host)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity (macOS)
        return os.cpu_count() or 8


def _default_driver_mem() -> str:
    """~40% of physical RAM (capped at 48g), so one driver JVM plus its
    Python workers fit the box; 4g where /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1024, min(48 * 1024, int(kib * 0.4) // 1024))}m"


def get_spark(
    app_name: str = "yatsm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores).  ``shuffle_partitions`` defaults to 2x the local core count so
    AQE has room to coalesce — on a real cluster pass an explicit value
    sized to the input (~128 MB per post-shuffle partition).  The driver
    heap is ``$YATSM_SPARK_DRIVER_MEM`` or ~40% of physical RAM.
    """
    # local-mode Python workers must be able to import yatsm_spark no matter
    # where the driver was launched from; on a real cluster this is replaced
    # by spark-submit --py-files engine.zip (jobs/README).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pypath if pypath else "")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)

    if shuffle_partitions is None:
        ncores = _local_cores()
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                ncores = int(inner)
        shuffle_partitions = max(8, 2 * ncores)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    driver_mem = os.environ.get("YATSM_SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = builder.config("spark.driver.memory", driver_mem)

    perf = dict(_PERF_CONFS)
    if master == "local" or master.startswith("local["):
        # List partition directories on the driver.  Past the threshold
        # (Spark's default: 32 paths) every read of a day-partitioned tier
        # starts a listing job with one task per directory; in local mode
        # those tasks run in the driver JVM anyway, and their scheduling
        # and deserialization cost ~20x the listing itself.  Cluster
        # masters keep distributed listing for S3-scale trees.
        perf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(2**31 - 1)
    for k, v in {**perf, **(extra_confs or {}), **_CORRECTNESS_CONFS}.items():
        builder = builder.config(k, v)

    if hive:
        # persistent (Derby) catalog: bucketed managed tables survive across
        # sessions/processes — required for the shuffle-free presorted
        # kernel path (sources/storage.py::write_bucketed_tier)
        builder = builder.config(
            "spark.sql.catalogImplementation", "hive"
        ).enableHiveSupport()

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
