"""Bronze: CSV → Parquet landing zone (SURVEY §2.1 S1-S5).

Replaces the reference's Elasticsearch index as the raw landing layer:
the CSV is scanned once, by the write; all columns kept verbatim as
strings (the ES dynamic-mapping posture), written as Parquet. The three
ingest modes map the reference's index DDL behaviors:

- overwrite ≙ truncate_index + fresh ingest
  (/root/reference/ingest_csv_to_elastic.py:58-70,115-118)
- append    ≙ continuous batch ingestion (:89-96)
- ignore    ≙ create-if-absent (:36-55)

The landing table is not partitioned, so each incremental extract scans
all of it; it is read with its declared schema (no footer-inference job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from coviddatapipeline_spark.pipeline.schemas import COVID_RAW_SCHEMA
from coviddatapipeline_spark.sources import read_csv, write_parquet


def ingest_csv_to_bronze(
    spark: SparkSession,
    csv_path: str,
    bronze_path: str,
    mode: str = "overwrite",
) -> int:
    """Land the raw CSV as Bronze Parquet; returns the rows ingested by
    THIS run (the reference's per-ingest total_rows,
    /root/reference/ingest_csv_to_elastic.py:80-81) — counted from the
    write itself (``DataFrame.observe``), not by a second scan of the CSV
    or of the cumulative table, so the value is correct under
    mode='append' (ADVICE r01) and is 0 when mode='ignore' leaves an
    existing table alone.

    One distributed job, the write — no driver-side row loop, no 100-row
    batching (Spark's own partitioning replaces batch-size memory
    control), no sleep-based rate limiting.
    """
    seen = Observation()
    df = read_csv(spark, csv_path, schema=COVID_RAW_SCHEMA, header=True)
    write_parquet(df.observe(seen, F.count(F.lit(1)).alias("n")), bronze_path, mode=mode)
    return seen.get["n"]


def read_bronze(spark: SparkSession, bronze_path: str) -> DataFrame:
    return spark.read.schema(COVID_RAW_SCHEMA).parquet(bronze_path)
