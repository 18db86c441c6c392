"""SparkSession factory tuned for the engine.

Local-mode defaults follow the 100 TB posture scaled down: AQE on (runtime
shuffle-partition coalescing + skew-join splitting), Arrow on (the Arrow
record batch is our analog of Samsara's vertical block — SURVEY §1.2), UTC
timezone pinned so the DuckDB oracle compares timestamps apples-to-apples.
Scan splits keep Spark's own sizing, min(128 MB, max(4 MB open cost,
input bytes / cores)); where a small input needs more
tasks than its scan gives, ``partitioning.ensure_min_partitions``
decides, so the session sets no split size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mahout_samsara_book_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster the ``master``/memory settings come from
    spark-submit; everything set here is safe cluster-side too.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Vertical-block height for the DRM's mapInArrow block operators
        # (SURVEY §4): one Arrow batch == one in-core block the drm codec
        # hands to numpy kernels.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Legacy fixture generations wrote events.ts as TIMESTAMP(NANOS),
        # which Spark rejects by default; the conf surfaces those as int64
        # nanos and is a no-op for the current TIMESTAMP(MICROS) fixtures.
        # sources.tables.ts_us normalizes both representations.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
