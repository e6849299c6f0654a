"""SparkSession factory tuned for the CDC engine.

Scale posture (100 TB / 1000-executor design, tested on local[N]):

* AQE on — runtime coalescing, skew-join splitting, plan re-optimization.
* Arrow on — every pandas UDF crosses the JVM/Python boundary in columnar
  batches (input_hint mandates vectorized token-array ops).
* shuffle partitions sized from parallelism locally; on a real cluster AQE
  coalesces from a deliberately high initial number.
* table reads list their paths on the driver — the sinks' manifests name
  every leaf dir a read needs, so a read of up to 4096 paths launches no
  listing job; Spark's distributed listing only takes over above that.
* Iceberg catalog wired in when the runtime jar is present (detected), so
  the same code runs MERGE INTO on a cluster; the sandbox falls back to the
  parquet merge sink (storage.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def iceberg_available() -> bool:
    """True if an iceberg-spark-runtime jar is on the classpath."""
    import glob

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*")
    return bool(glob.glob(jars)) or bool(os.environ.get("SPARK_ICEBERG_JAR"))


def get_spark(
    app_name: str = "opendataloader-pdf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster leave it unset and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # files: keep scan partitions bounded so a 100TB read doesn't
        # explode task count; AQE coalesces small ones.
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # sinks read the manifest's leaf dirs by name (16 base + 32 delta
        # dirs for a 16-bucket MoR read with 2 deltas); above 32 root
        # paths Spark would list them in a distributed job, which cost
        # more than driver listing at every size measured, up to 4096
        # local dirs (BENCH/LISTING.md)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    if iceberg_available():
        warehouse = os.environ.get("SPARK_ICEBERG_WAREHOUSE", "/tmp/iceberg_warehouse")
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.lake.type", "hadoop")
            .config("spark.sql.catalog.lake.warehouse", warehouse)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
