"""SparkSession factory.

One place that encodes the engine's execution posture:

- AQE on (runtime re-plan, skew-join handling, partition coalescing);
- shuffle partitions sized to the local core count (on a real cluster
  this is overridden to ~2-3x total cores via ``extra_conf``);
- UTC session timezone so results are comparable with the DuckDB
  oracle (DuckDB timestamps are UTC-naive);
- Arrow enabled for the Pandas-UDF slow path.

The reference pipeline has no engine at all (hand-rolled Python loops,
see /root/reference/ingest_csv_to_elastic.py:78-102); this module is
where Spark replaces all of that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Confs that query results depend on for oracle parity. get_spark sets
# them, and every registry call sets them on a session it did not build
# (catalog._ensure_confs). All three are runtime-settable SQL confs.
RESULT_CONFS = {
    # events.parquet may store TIMESTAMP(NANOS), which the vectorized
    # reader rejects; read it as epoch-nanos longs and convert
    # (ts DIV 1000 -> timestamp_micros), matching DuckDB's µs truncation.
    # A no-op for TIMESTAMP(MICROS) files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are UTC-naive; date_format must agree.
    "spark.sql.session.timeZone": "UTC",
    # Arrow batch transfer for the Pandas-UDF escape hatches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "coviddatapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a single JVM; on a cluster the same conf applies with
    ``master`` supplied by the submitter. ``spark.sql.shuffle.partitions``
    defaults to the core count locally; at 100 TB you want 2-3x total
    executor cores and AQE coalescing trims the rest.
    """
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Parquet scans: keep row-group pruning + column pruning effective.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in {**RESULT_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
