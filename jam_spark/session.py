"""SparkSession factory for local runs (tests, bench, CLI).

On a real cluster the job ships via ``spark-submit --py-files --jars``
(:mod:`jam_spark.deploy`); nothing in the pipeline assumes local mode —
partitioning/shuffle behavior is driven entirely by the DataFrame plan +
AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """Shuffle/spill dir: prefer tmpfs — on a real cluster this is the
    node's local SSD; the sandbox's ext4 root would serialize shuffle I/O."""
    for cand in ("/dev/shm", "/tmp"):
        if os.path.isdir(cand) and os.access(cand, os.W_OK):
            d = os.path.join(cand, "jam-spark-local")
            os.makedirs(d, exist_ok=True)
            return d
    return "/tmp"


def get_spark(
    app: str = "jam_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str = "24g",
    max_partition_bytes: int = 32 * 1024 * 1024,
) -> SparkSession:
    """``max_partition_bytes`` sizes parquet scan splits. The sketch is
    computed INSIDE the scan stage (map-side, no shuffle), so scan splits
    ARE the sketch parallelism: the 128MB default caps a ~1GB corpus at
    ~8 tasks and flatlines the N→4N scaling curve. 32MB keeps small-ish
    corpora parallel; at 100TB any value yields abundant splits."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        # Throughput GC: the codegen'd sketch expression allocates token/
        # gram arrays per row; G1's 200ms pause target makes it burn 2-3x
        # the CPU of the actual work at >=16 threads (measured: the same
        # job, 185s CPU under G1 vs 75s under ParallelGC). Batch analytics
        # has no latency SLO — the throughput collector is strictly better
        # here, and the flag applies unchanged to real executors.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", _local_dir())
        .getOrCreate()
    )
    from .deploy import ensure_shipped

    ensure_shipped(spark)
    return spark
