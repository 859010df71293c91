"""SparkSession factory with scale-oriented defaults.

Single place where execution confs live so the same settings apply in
tests, bench, and spark-submit. Designed for multi-executor clusters;
``local[N]`` here is the sandbox proxy (BASELINE.md row 8).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_REPO_ROOT = __import__("pathlib").Path(__file__).resolve().parent.parent


def _default_local_dir() -> str:
    """tmpfs spill dir only when explicitly requested or demonstrably
    large; otherwise the platform temp dir (Spark's own default)."""
    explicit = os.environ.get("SKETCHY_LOCAL_DIR")
    if explicit:
        return explicit
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= 8 * (1 << 30):
            return os.path.join(shm, "spark-local")
    except OSError:
        pass
    return tempfile.gettempdir()


def get_spark(
    app_name: str = "sketchy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python UDF workers inherit this env: large numpy temporaries must be
    # served from the heap, not mmap — per-call mmap/munmap across 32+
    # workers causes huge-page-fault + TLB-shootdown storms (98% system
    # time observed). Must be set before the JVM (and thus workers) start.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    # Arrow's default pool mmaps per batch; route through glibc (above
    # thresholds) instead — measured 30% faster sketch stage at 32 workers
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    master = master or os.environ.get("SKETCHY_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SKETCHY_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, partition coalescing, skew-join splitting —
        # the backstop for hot band keys (SURVEY §4.1)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE's 64 MB advisory target coalesces a CPU-heavy ~200 MB
        # shuffle to ~3 reduce tasks — idle cores regardless of cluster
        # width. 8 MB keeps reduce-side parallelism proportional to data;
        # at 100 TB shuffle sizes the advisory barely binds either way.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SKETCHY_ADVISORY_SHUFFLE", str(8 * 1024 * 1024)),
        )
        # smaller scan splits: the sketch UDF is CPU-heavy per byte, so
        # task granularity must exceed core count for load balance AND
        # give multiple waves (1 wave = straggler-bound: measured 11.5s
        # vs 2.2s for the same sketch at local[32] with 1 vs 2+ waves)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SKETCHY_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Arrow for pandas UDFs (the sketch stage) — batch size caps UDF
        # peak memory per task at 100 TB scale
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # broadcast small dims (metadata joins); AQE may upgrade more
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/spill files default to /tmp, which sits on the virtio
        # DISK in this sandbox; at 32 concurrent writers the device
        # serializes what the plan parallelized. tmpfs (128 GiB RAM)
        # removes the device entirely. Guarded: common container hosts
        # mount /dev/shm at 64 MB, where spill would ENOSPC — only
        # route there when it has real capacity (>= 8 GiB free). On a
        # real cluster leave this to the manager's fast local volumes.
        .config("spark.local.dir", _default_local_dir())
        .config("spark.driver.memory", os.environ.get("SKETCHY_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("SKETCHY_UI", "false"))
        # Python workers fork from sketchy_spark.worker_daemon: upstream
        # pyspark.daemon, except that each task's setup refreshes only
        # the import finders under its SparkFiles directory instead of
        # every zipimporter on the worker path. Keep it set: overriding
        # it, or spark.python.use.daemon=false, brings back the blanket
        # per-task refresh. Executor workers import the module from the
        # PYTHONPATH set below.
        .config("spark.python.daemon.module", "sketchy_spark.worker_daemon")
        # Multi-executor masters (local-cluster / standalone): executor
        # python workers need the package on their import path — the
        # in-repo equivalent of `spark-submit --py-files sketchy_spark.zip`
        # (the north rule's launch form). Harmless under plain local[N].
        .config(
            "spark.executorEnv.PYTHONPATH",
            str(_REPO_ROOT) + os.pathsep + os.environ.get("PYTHONPATH", ""),
        )
        # same allocator tuning for separate executor JVMs' python workers
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            os.environ["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            os.environ["MALLOC_TRIM_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
            os.environ["ARROW_DEFAULT_MEMORY_POOL"],
        )
        .config(
            "spark.executor.memory",
            os.environ.get("SKETCHY_EXECUTOR_MEM", "6g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
