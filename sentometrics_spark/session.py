"""SparkSession builder with the engine's recommended configuration.

These are the settings the engine is designed around; on a real cluster
they go into spark-submit --conf (see scripts/package.sh).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "sentometrics-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    confs = {
        # UTC everywhere: bucket timestamps must not depend on driver TZ
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime coalescing + skew-join splitting; skewed groupBys
        # need no help — they aggregate map-side before the shuffle
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Arrow transfer for the scoring UDFs; larger batches amortize
        # per-batch overhead (the kernels are vectorized over the batch)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        # keep scan partitions reasonable for wide binary/html columns
        "spark.sql.files.maxPartitionBytes": "128m",
    }
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if driver_memory:
        confs["spark.driver.memory"] = driver_memory
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()
