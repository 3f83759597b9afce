"""SparkSession construction with scale-appropriate defaults.

Single place where execution knobs live so tests, bench, and the driver
entrypoint share one configuration story. Defaults are tuned for a
single host (local[N], a driver heap of at most half its RAM, parquet on
local disk) but every knob is the one you would set on a 1000-executor
cluster too:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4.2),
- Arrow transport for pandas UDFs,
- shuffle partitions proportional to cores (not a fixed 200),
- broadcast threshold generous enough for dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(cores: int, meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: ``max(16, 2*cores)`` GiB, capped at
    half of the host's ``MemTotal`` so the heap, the Python workers and a
    tmpfs spill dir fit in RAM instead of the kernel killing the JVM.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it in ``get_spark``."""
    mib = max(16, 2 * cores) * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mib = min(mib, max(1024, int(line.split()[1]) // 2048))
                    break
    except OSError:
        pass
    return f"{mib}m"


def get_spark(
    app_name: str = "progquery-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # ~2 partitions per core locally; on a real cluster this should be
        # sized so each shuffle partition is 100-200 MB of the input SF.
        shuffle_partitions = max(2 * cores, 8)

    # Shuffle/spill dir: the sandbox has ONE ~180 MB/s virtio disk, which a
    # 32-thread run saturates (each executor on a real cluster has its own
    # local NVMe). tmpfs is the sandbox stand-in; override with
    # SPARK_GRAFT_LOCAL_DIR for disk-backed runs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/pq-spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every executor thread; size the
        # heap for the thread count or 32-way runs GC-thrash (observed: all
        # stages ~2x slower at local[32] vs local[8] on an 8g heap)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory(cores)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # snappy for stage snapshots: measured 19s -> 1s write overhead at
        # local[16] on the extraction stage vs zstd (+38% size). Long-lived
        # at-rest tables on a real cluster should set zstd via table
        # properties; the pipeline's own snapshots are transient.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Scan-split sizing: stage snapshots at sandbox scale are O(100 MB)
        # in many small files; the 128 MB default packs them into ~4 splits,
        # capping every downstream scan at 4 tasks no matter how many cores
        # exist (measured: post-extraction phases stopped scaling past
        # local[4]). 8 MB splits keep scan parallelism >= cores at bench
        # scale; on a real cluster with TB-scale stages the default is
        # right — override via extra_conf there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_sf_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver-generated parquet tables as temp views.

    Mirrors the reference's source discovery (CompilationScheduler.listFiles,
    /root/reference/src/.../CompilationScheduler.java:96-114) — but the
    'discovery' is a catalog registration; partition/predicate pruning is
    then Catalyst's job, not ours.
    """
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
