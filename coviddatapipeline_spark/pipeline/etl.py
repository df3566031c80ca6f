"""The end-to-end incremental ETL job (SURVEY §3.2 Spark equivalent).

The reference's hourly Airflow DAG (/root/reference/dags/ETL.py:37-44,
wiring at :148-152) — load_checkpoint → extract (ES, :64-89) →
transform (:91-107) → load (Postgres, :109-146), each stage a separate
Celery process with XCom round-trips — becomes ONE lazy DataFrame chain
executed by a single Spark action, the append; only that write and the
watermark file touch external state. Scheduling stays external (cron /
Trigger.AvailableNow).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from coviddatapipeline_spark.pipeline.bronze import read_bronze
from coviddatapipeline_spark.pipeline.schemas import COVID_CASES_SCHEMA
from coviddatapipeline_spark.pipeline.silver import transform_covid
from coviddatapipeline_spark.pipeline.watermark import (
    compute_watermark,
    extract_increment,
    load_watermark,
    save_watermark,
)
from coviddatapipeline_spark.sources import write_parquet


@dataclass
class EtlResult:
    rows_loaded: int
    watermark: str | None


def run_incremental_etl(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    checkpoint_path: str,
) -> EtlResult:
    """One scheduled run: extract-past-watermark → transform → append →
    advance watermark. Idempotent: re-running with no new Bronze data
    loads zero rows (fixes the reference's at-least-once duplicates,
    SURVEY §4.3.2)."""
    wm = load_watermark(checkpoint_path)
    target = silver_table(spark, silver_path) if os.path.exists(silver_path) else None
    if target is not None and wm is None:
        # Recovery: checkpoint lost/corrupt but data exists. Rebuild the
        # watermark from the target itself (max loaded date) instead of
        # re-loading history — a blind full reload would duplicate every
        # row (the failure mode the reference's design invites).
        wm = compute_watermark(target, "date")

    clean = transform_covid(read_bronze(spark, bronze_path))
    increment = extract_increment(clean, target, wm, date_col="date")

    # The append is the run's one action: it observes the increment's row
    # count and max date as it writes, so neither re-runs the extract. An
    # empty increment (P5) needs no count job in front either: it appends
    # no rows, only a schema-only file. The checkpoint is saved after the
    # write returns, so a failed write leaves it unchanged.
    seen = Observation()
    observed = increment.observe(seen, F.count(F.lit(1)).alias("n"), F.max("date").alias("wm"))
    write_parquet(observed, silver_path, mode="append")
    loaded = seen.get
    # Watermark only ever advances (a boundary-only increment keeps it).
    if loaded["wm"] is not None and (wm is None or str(loaded["wm"]) > wm):
        wm = str(loaded["wm"])
    if wm is not None:
        save_watermark(checkpoint_path, wm)  # also persists a rebuilt watermark
    return EtlResult(rows_loaded=loaded["n"], watermark=wm)


def silver_table(spark: SparkSession, silver_path: str) -> DataFrame:
    return spark.read.schema(COVID_CASES_SCHEMA).parquet(silver_path)


def default_paths(root: str) -> dict[str, str]:
    return {
        "bronze": os.path.join(root, "bronze", "covid_raw"),
        "silver": os.path.join(root, "silver", "covid_cases"),
        "checkpoint": os.path.join(root, "checkpoints", "covid_watermark.json"),
    }
