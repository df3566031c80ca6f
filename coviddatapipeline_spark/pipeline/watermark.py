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
- extraction is ``>=`` the watermark with an anti-join against the
  target's boundary-date rows, so same-date stragglers are picked up
  and re-runs are idempotent (no duplicates).

At 100 TB the anti-join touches ONLY the boundary date's partition on
both sides (partition pruning on the equality filter), so its cost is
one date-partition scan, not a full-table join.
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
    boundary date.

    - ``> watermark``: strictly new dates — pure pushed-down range scan.
    - ``== watermark``: boundary-date rows reconciled by per-row COUNT
      difference against the target (group both sides on the full row,
      load ``source_count − loaded_count`` copies). Same-date stragglers
      are picked up exactly once (fixes SURVEY §4.3.1) and genuine
      duplicate rows are neither lost nor double-loaded — an anti-join
      on a non-unique key would silently collapse them.

    Both boundary scans carry an equality filter on ``date_col``, so on a
    date-partitioned table this is one partition on each side, regardless
    of total table size.
    """
    if watermark is None:
        return source
    wm_date = F.lit(watermark).cast("date")
    new_dates = source.filter(F.col(date_col) > wm_date)
    boundary_src = source.filter(F.col(date_col) == wm_date)
    if target is None:
        return new_dates.unionByName(boundary_src)

    cols = source.columns
    src_counts = boundary_src.groupBy(*cols).agg(F.count("*").alias("_src_n"))
    tgt_counts = (
        target.filter(F.col(date_col) == wm_date)
        .groupBy(*cols)
        .agg(F.count("*").alias("_tgt_n"))
    )
    missing = (
        src_counts.join(tgt_counts, on=cols, how="left")
        .withColumn("_need", F.col("_src_n") - F.coalesce(F.col("_tgt_n"), F.lit(0)))
        .filter(F.col("_need") > 0)
        # re-expand to _need physical rows per distinct row
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_need"))))
        .select(*cols)
    )
    return new_dates.unionByName(missing)
