"""SparkSession factory tuned for the encode pipeline.

Local-mode defaults come from the host: one JVM with a slot per CPU this
process may run on, and a driver heap of at most half the physical RAM
(``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` override both). The same
configs are what we'd pass to spark-submit on a real cluster — partition
sizing and Arrow batch size are the knobs that matter at 100 TB
(SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the driver heap the default never exceeds
MAX_DRIVER_MEM_MB = 24 * 1024


def host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the box)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb(meminfo: str = "/proc/meminfo") -> int | None:
    """Physical RAM in kB from ``MemTotal``, None when unreadable."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def default_driver_mem(total_kb: int | None) -> str:
    """Half of physical RAM, capped at ``MAX_DRIVER_MEM_MB``; the cap
    when RAM is unknown. A heap sized for a bigger box gets the JVM
    OOM-killed once it grows past what the host has."""
    if not total_kb:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(total_kb // 1024 // 2, MAX_DRIVER_MEM_MB)}m"


DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus()))


def get_spark(master: str | None = None, app: str = "cpp_parquet_spark",
              shuffle_partitions: int | None = None,
              task_cpus: int | None = None) -> SparkSession:
    """``task_cpus``: cores reserved per task. Default 1 (or the
    SPARK_GRAFT_TASK_CPUS env). With 8 MB scan splits (below) a plain
    1-core slot per task wins everywhere we measured — the earlier
    task_cpus=2 recommendation for hybrid JVM+Python stages was
    compensating for a narrow (4-task) scan stage and is now 2.7x SLOWER
    at local[32] on the 2 GB encode (13.9 s vs 38 s)."""
    master = master or f"local[{DEFAULT_CPUS}]"
    ncores = host_cpus()
    if master.startswith("local[") and master[6:-1].isdigit():
        ncores = int(master[6:-1])
    if task_cpus is None:
        task_cpus = int(os.environ.get("SPARK_GRAFT_TASK_CPUS", "1"))
    sp = shuffle_partitions or max(2 * ncores, 8)
    builder = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.task.cpus", str(max(task_cpus, 1)))
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the Python DataSource front door (datasource.py) prunes row
        # groups from Catalyst's pushed filters — off by default in
        # Spark 4.1, required for CppParquetReader.pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # scan-side parallelism: source-code parquet compresses ~4x, so
        # the default 128 MB split feeds tasks ~512 MB of decoded strings
        # AND caps a 470 MB file at 4 scan tasks — the stage ahead of the
        # encode exchange then bottlenecks every wider level. 8 MB splits
        # (~32 MB decoded per task) keep the scan as wide as the box; on
        # a real cluster this is the same spark-submit conf.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"))
        # one Arrow batch ~ a few pages; too small starves the vectorized
        # kernels, too big risks worker memory at wide content rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # shuffle/broadcast block codec: snappy halves the 2 GB encode
        # exchange wall vs this build's lz4 (measured 2.0-2.8 s vs
        # 3.2-6.9 s interleaved at local[32]) at a near-identical ratio
        # on string-heavy source code; same trade-off holds on a real
        # cluster (cheap CPU, network bytes ~unchanged)
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "snappy"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM",
                               default_driver_mem(mem_total_kb())))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
