"""SparkSession factory.

Single place where execution-relevant conf lives, the analog of the
reference's tuning surface (``--defaults`` printout,
/root/reference/src/bin.rs:334-370): AQE on (runtime re-plan +
skew-join splitting), Arrow on (all Python kernels are
pandas/Arrow-vectorized), bloom-filter runtime join pruning (the
semi-join reduction the reference hand-rolls in src/denorm.rs:387-389).

Parallelism comes from ``SPARK_GRAFT_MASTER`` / ``SPARK_GRAFT_CPUS``
so the same code runs at any core count without edits; with neither
set it is the cores this process may run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_CAP_MB = 24 * 1024


def driver_memory(meminfo: str) -> str:
    """Default ``spark.driver.memory`` for a host whose /proc/meminfo
    reads ``meminfo``: half of MemTotal, capped at 24g. In local mode
    the driver JVM hosts the executors too, so a heap above the host's
    RAM gets the JVM killed by the kernel instead of spilling."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            total_mb = int(line.split()[1]) // 1024  # reported in kB
            return f"{min(total_mb // 2, DRIVER_MEM_CAP_MB)}m"
    return f"{DRIVER_MEM_CAP_MB}m"


def default_parallelism(master: str, cpus: int) -> int:
    """Shuffle partitions and default parallelism for ``master`` on a
    host with ``cpus`` usable cores: the cores of ``local[N]``, else the
    host's, and at least 8. At cluster scale pass ``shuffle_partitions``
    (~2-3× total cores) or leave it to AQE coalescing."""
    n = master[master.find("[") + 1 : master.find("]")].split(",")[0] if "[" in master else "*"
    return max(8, cpus if n == "*" else int(n))


def _default_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory(f.read())
    except OSError:
        return f"{DRIVER_MEM_CAP_MB}m"


def get_spark(
    master: str | None = None,
    app_name: str = "ingest_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    # cores this process may use (sched_getaffinity is Linux-only)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism(master, cpus)

    # make the package importable in executor Python workers regardless of
    # the driver's cwd: local mode inherits PYTHONPATH; on a real cluster
    # ship it with `spark-submit --py-files pipeline.zip` (jobs/ do this)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{pp}" if pp else pkg_root

    # shuffle/spill dirs: Spark's own default (SPARK_LOCAL_DIRS, else
    # java.io.tmpdir) unless SPARK_GRAFT_LOCAL_DIR names one, e.g. a
    # tmpfs when the host's RAM can hold the spill next to the heap
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
