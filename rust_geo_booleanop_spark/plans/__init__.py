"""SparkSession construction with scale-oriented defaults.

One place for engine conf so tests, perfbench, and the driver contract all run
with the same plan-shaping knobs: AQE (runtime re-plan + skew join), Arrow
batching for the Python kernel, sensible shuffle parallelism for local[N]
(on a real cluster these come from spark-submit conf instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for local[N]: $SPARK_GRAFT_CPUS, else the cores this process
    may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "rust-geo-booleanop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{local_cpus()}]")

    if shuffle_partitions is None:
        # Match parallelism to cores in local mode; a cluster submit would
        # override via --conf.
        if master.startswith("local["):
            # local[N] / local[*] / local[N,maxFailures] are all valid
            inner = master[len("local[") : -1].split(",")[0]
            shuffle_partitions = 2 * (
                int(inner) if inner.isdigit() else (os.cpu_count() or 8)
            )
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces shuffle outputs by BYTES; kernel stages are
        # CPU-bound per ROW (a few KB of geometry can cost 100ms), so a
        # byte-based floor of 1MB would serialize them. Keep partitions
        # fine-grained — the task-count ceiling is shuffle.partitions.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NTZ->LTZ casts (unix_micros paths in sessionize / range windows)
        # apply the session zone; pin it so results — and the DuckDB
        # oracle comparison, which uses offset-free epoch_us — never
        # depend on the host timezone or its DST transitions
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
