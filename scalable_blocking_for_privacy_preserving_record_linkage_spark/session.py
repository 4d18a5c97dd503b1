"""SparkSession factory tuned for this engine.

The one session builder for the library, the CLI, the benchmarks and the
tests: the settings that matter at cluster scale (AQE, adaptive skew join,
shuffle partitions, Arrow) are set here so plans seen in tests are the plans
we'd ship.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PPRL stages are CPU-heavy per byte (Levenshtein, q-gram hashing,
        # window kernels); the 64MB default advisory size would coalesce
        # post-shuffle partitions below the core count on slim rows
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # without a master, spark-submit's (or pyspark's local[*]) stands
    if master:
        builder = builder.master(master)
    # caller overrides (e.g. perfbench re-enables the UI to read per-stage
    # shuffle metrics from the REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
