"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same config ships via spark-submit. Parallelism (master) and shuffle
partitions are injectable so the bench can run the identical job at
local[8] vs local[32] to evidence scaling efficiency (BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, capped at 48g — so the default heap can
    never exceed the machine (the OOM-killer strikes before Spark would
    spill). Without a readable meminfo the cap alone applies."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mb}m"
    return f"{max(1, min(kib // 2048, cap_mb))}m"


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "pii-redaction-quality-filter",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Arrow exchange is on (every Python stage is a vectorized pandas UDF);
    AQE is on so skewed shuffles re-plan at runtime; shuffle partitions
    default to the core count rather than Spark's 200 (local data is
    small per-partition; at 100 TB this is instead sized to input volume
    by run_pipeline via plans.pipeline.tune_shuffle_partitions).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 8) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # task-side (parallel) file commit: the default v1 renames every
        # output file serially on the driver during commitJob — with
        # partitionBy(bucket) writes producing max(tasks, buckets) files,
        # that serial tail grows WITH parallelism. v2's tradeoff
        # (partial files visible on job failure) is safe here: the
        # lineage checkpoint only marks buckets complete after the job
        # succeeds, so a failed run's stragglers are overwritten on
        # resume (dynamic partition overwrite).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_PARQUET_CODEC", "snappy"),
        )
        # local inputs are far below 128 MB; smaller splits keep all
        # cores busy through the pandas-UDF stages. On a real cluster
        # the submitter sizes this to input volume (128-256 MB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
