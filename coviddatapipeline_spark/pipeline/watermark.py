"""Incremental-extract watermark (SURVEY §2.1 S9/S10, §4.3.1-2 fixes).

The reference keeps a ``{"last_processed_date": str}`` JSON checkpoint
and extracts with a strictly-greater range query
(/root/reference/dags/ETL.py:47-62,67-76). Two hazards follow
(SURVEY §4.3): same-date rows past the batch cut are lost forever, and
task retries re-insert committed rows.

This module keeps the JSON-checkpoint shape (it is control metadata,
not data — a single tiny document) but fixes the semantics:

- the watermark is the TRUE max loaded date (not order-dependent
  ``batch[-1]``, /root/reference/dags/ETL.py:142);
- extraction is ``>=`` the watermark, reconciled against the target's
  boundary-date rows by a signed per-row count, so same-date stragglers
  are picked up and re-runs are idempotent (no duplicates).

Neither table is partitioned and the Bronze date is parsed from a raw
string, so the extract scans both tables in full, then shuffles only the
increment plus Silver's boundary-date rows (one aggregation, no join).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def load_watermark(path: str) -> str | None:
    """Read {"last_processed_date": ...}; None when absent (first run —
    the reference defaults the lower bound to 1970-01-01)."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get("last_processed_date")


def save_watermark(path: str, value: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump({"last_processed_date": value}, f)


def compute_watermark(df: DataFrame, date_col: str = "date") -> str | None:
    """True max date of a loaded table (fixes A2's batch[-1] hazard);
    rebuilds a lost checkpoint from Silver."""
    row = df.agg(F.max(date_col).alias("wm")).collect()[0]
    return None if row["wm"] is None else str(row["wm"])


def extract_increment(
    source: DataFrame,
    target: DataFrame | None,
    watermark: str | None,
    date_col: str = "date",
) -> DataFrame:
    """Rows of ``source`` not yet in ``target``, correctly handling the
    boundary date, by one signed-count aggregation on the full row:
    ``source`` rows dated ``>= watermark`` count +1, ``target`` rows on
    the boundary date count −1, and each distinct row is loaded as many
    times as its sum is positive (``source_count − loaded_count``; rows
    past the watermark have no target counterpart). Same-date stragglers
    are picked up exactly once (fixes SURVEY §4.3.1) and genuine
    duplicate rows are neither lost nor double-loaded — an anti-join on a
    non-unique key would silently collapse them. Silver columns are never
    NULL, so grouping equals an equi-join on the row.

    Cost: one scan of each side and one shuffle of the increment plus the
    target's boundary-date rows.
    """
    if watermark is None:
        return source
    wm_date = F.lit(watermark).cast("date")
    cols = source.columns
    signed = source.filter(F.col(date_col) >= wm_date).withColumn("_n", F.lit(1))
    if target is not None:
        loaded = target.filter(F.col(date_col) == wm_date).select(*cols)
        signed = signed.unionByName(loaded.withColumn("_n", F.lit(-1)))
    return (
        signed.groupBy(*cols)
        .agg(F.sum("_n").alias("_need"))
        .filter(F.col("_need") > 0)
        # re-expand to _need physical rows per distinct row
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_need"))))
        .select(*cols)
    )
