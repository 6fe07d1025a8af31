"""SparkSession factory.

One place to pin the configs that matter for correctness (UTC timestamps so
DuckDB oracles compare bit-for-bit) and for scale (AQE on, Arrow batches for
the pandas UDF operators, shuffle partitions sized to cores rather than the
200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbyte-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the CDC engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]). On a
    real cluster callers pass master=None and let spark-submit decide; every
    knob below is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_s) if cpus_s and cpus_s.isdigit() else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness: deterministic UTC timestamps everywhere (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Scale: adaptive execution — runtime coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: the Python left in operators is vectorized pandas/Arrow UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Local-mode hygiene; harmless on a cluster (overridden by submit).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
