"""SparkSession factory tuned for this engine.

Local mode mirrors the driver harness (local[32], single JVM).  The configs
matter at cluster scale too: AQE re-plans skewed shuffles at runtime (the
analog of the reference relying on Kafka partition parallelism —
KafkaStorageBuilder.java:237), UTC session time zone keeps timestamps
comparable with UTC-naive parquet/DuckDB, and Arrow makes the few
pandas-UDF operators batch-transfer instead of row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "zipkin_storage_kafka_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata parquet uses TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read them as LongType nanos (converted with
        # sources.tables.to_epoch_micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
