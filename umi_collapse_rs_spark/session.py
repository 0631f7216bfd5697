"""SparkSession factory tuned for the dedup pipeline.

Local mode is the sandbox stand-in for a multi-executor cluster; the
settings below are the ones that transfer (AQE incl. skew-join splitting,
Arrow batches for the two pandas UDFs, shuffle partition sizing).  On a
real 1000-executor cluster the same job runs unchanged via
``spark-submit --py-files`` (see jobs/run_dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_GB = 24


def default_driver_memory() -> str:
    """Driver heap default: ``min(24g, MemTotal / 2)``.

    In local mode the driver heap is all executor memory, but a heap
    sized past physical RAM gets the JVM OOM-killed by the kernel
    instead of spilling; half of MemTotal leaves room for the Python
    workers and the page cache.  ``SPARK_DRIVER_MEMORY`` overrides it.
    """
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{_MAX_DRIVER_GB}g"
    return f"{min(_MAX_DRIVER_GB * 1024, kib // 2048)}m"


def get_spark(
    app_name: str = "umi-collapse-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 500-row Arrow batches, NOT the 10k default: a forked pyspark
        # worker's FIRST UDF call pays fork/COW page-fault warmup that
        # grows superlinearly with the batch working set (measured at
        # 150k pages: one 3.4k-row batch per worker -> 6 s/call, 90%
        # kernel time; 500-row batches -> 0.6 s first call + 0.08 s
        # warm calls, 5x faster stage wall).  Compute per batch is
        # C-vectorized either way; 500 rows (~1 MB text) keeps numpy
        # efficiency while amortizing the warmup across calls.  The fixed
        # per-TASK cost is separate: functions/udfs.py "Scale note".
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        # local mode: the driver heap is ALL executor memory.  Measured on
        # this box (150k-page run, local[32]): heap 64g -> 12.6 min sys
        # time (kernel page zeroing under G1 churn), 16g -> 2.7 min; and
        # ParallelGC beats G1 by ~25% wall on this batch workload.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # single-file fixture inputs must still split wide enough to use
        # every core (440 MB / 128 MB default = 4 splits would cap the
        # scan+normalize stage at 4-way); 8 MB keeps local scans
        # parallel even for the small bench tiers, and is irrelevant at
        # cluster scale where inputs are many files
        .config("spark.sql.files.maxPartitionBytes", "8388608")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` (a driver-side conf
    read, not an action).  Every compute-bound exchange pinned with an
    explicit count (the fingerprint UDF, the ANN scoring joins) takes
    its task count from here, so one setting sizes them all."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001
        return 32
