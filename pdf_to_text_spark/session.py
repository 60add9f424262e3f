"""SparkSession factory tuned for the extraction workload.

Local-mode test stand-in for a multi-executor cluster: partitioning,
AQE and Arrow batch sizing are configured the way a 1000-executor job
would be; only master/memory differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing for the pandas UDFs, shared by ``get_spark`` and the
# production job. Large binary rows (PDF whales): batches are bounded by
# BYTES so a batch of multi-MB documents fits executor memory at 100 TB
# scale. A small record cap would bound nothing for true whales (N × any
# size) while taxing every small-row UDF with per-batch overhead; a batch
# closes when either limit hits.
ARROW_BATCH_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
}


def _default_heap() -> str:
    """1.5 GB per core with a floor of 8 GB, then capped at half of
    physical RAM (at least 2 GB), so physical memory always bounds it.

    In ``local[N]`` the single JVM hosts the driver plus N task slots,
    so per-task execution memory is roughly ``heap * 0.6 / N``; sizing
    by core count is the local-mode equivalent of a cluster's
    per-executor memory setting and scales with ``SPARK_GRAFT_CPUS``
    instead of being tuned to one machine.
    """
    cores = os.cpu_count() or 8
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
        half_ram_gb = total_kb // (2 * 1024 * 1024)
    except (OSError, ValueError, IndexError):
        half_ram_gb = 16
    return f"{min(max(8, cores * 3 // 2), max(2, half_ram_gb))}g"


def get_spark(
    app_name: str = "pdf_to_text_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]``. On a real cluster the same conf block
    ships unchanged under ``spark-submit --py-files``; only ``master``
    comes from the cluster manager.
    """
    cores_s = "*" if cores is None else str(cores)
    n_shuffle = shuffle_partitions or ((os.cpu_count() or 8) if cores is None else cores)
    builder = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=ARROW_BATCH_CONF)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # scan-parallelism floor = core count (r6): the bench tables are
        # single files a hair over one 128 MB split, so TPC-H-shaped
        # scans ran on ≤2 tasks; a floor of one split per core lets the
        # reader split big single files down to row-group granularity
        # (q01 2.5→1.9 s, q03 2.0→1.4 s at sf1.0). On a real cluster
        # whose tables already ship thousands of files this floor is a
        # no-op.
        .config("spark.sql.files.minPartitionNum", str(n_shuffle))
        # task-side output commit (v2): tasks move their files into the
        # destination at task-commit instead of a sequential driver-side
        # merge at job-commit — with 64 bucket directories the v1 merge
        # is a serial O(n_buckets × files) rename loop on the driver,
        # pure fixed cost that suppresses scaling efficiency
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        # Heap sizing (env-parameterized): local mode runs driver and all
        # task slots in ONE JVM, so the old 8g default gave 32 concurrent
        # tasks ~150 MB of execution memory each — wide hash aggregates
        # (100M+ distinct keys) spilled and GC-thrashed (q33 at sf1.0:
        # 264 s with 8g, ~6x faster with task memory at production
        # ratios). Real clusters provision 1-4 GB per core; default to
        # 1.5 GB/core capped at half of machine RAM so the bench measures
        # the engine, not an artificially starved heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap()))
        # warehouse for bucketed saveAsTable (co-located join tests /
        # jobs) — keep it off the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", f"/tmp/sg_warehouse_{os.getpid()}"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
