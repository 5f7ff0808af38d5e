"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configuration block is what
we would ship to a 1000-executor cluster via spark-submit --py-files:
AQE on (runtime skew-join splitting + partition coalescing), Arrow
enabled for the pandas-UDF refine stages, and shuffle partition counts
sized by the caller, not hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyogrio_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-partition overhead. On a real
        # cluster this is 2-3x total executor cores instead.
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 65,536 rows mirrors the reference's Arrow scan batch size
        # (/root/reference/pyogrio/_io.pyx:2138-2143 MAX_FEATURES_IN_BATCH).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Throughput GC for wide batch JVMs: G1's pause-time goal costs
        # 20-30% of suite wall on a 32-thread local driver (measured
        # 102.7-117.1 s -> 81.7 s for the full sf1.0 bench); batch
        # executors have no latency SLO, so the parallel collector is
        # the right default on a cluster too. Override via env.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXECUTOR_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
