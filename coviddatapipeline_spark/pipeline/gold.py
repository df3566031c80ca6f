"""Gold: the five dashboard queries (SURVEY §2.4 Q1-Q6) as composable
DataFrame builders over the Silver ``covid_cases`` table — the Metabase
layer expressed in-engine, including the widget-side top-9+Other and
percent-of-total post-processing (Q4).

Reference evidence (the queries live in Metabase's internal DB, not the
repo): /root/reference/README.md:84-99 and the rendered widgets in
/root/reference/plots/metabase-final-dashboard.png (17,800 records /
114,193 cases / "Apr 29, 2022" / Martin 26.39% donut / deaths-by-state
bar), with per-run growth in plots/metabase-after batch 30.png and
batch 90.png (Q6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from coviddatapipeline_spark.operators.ranking import const_key


def q1_total_count(cases: DataFrame) -> DataFrame:
    """Q1: 'Total Covid Records count' widget — SELECT count(*)."""
    return cases.agg(F.count("*").alias("n"))


def q2_latest_date(cases: DataFrame) -> DataFrame:
    """Q2: 'Latest Covid Record' widget — SELECT max(date)."""
    return cases.agg(F.max("date").alias("latest_date"))


def q3_browse(cases: DataFrame, limit: int = 2000) -> DataFrame:
    """Q3: 2000-row browse widget, made deterministic with an explicit
    ORDER BY (the reference relied on Postgres storage order)."""
    return (
        cases.select("date", "state", "county", "new_cases", "new_deaths")
        .orderBy("state", "county", "date")
        .limit(limit)
    )


def q4_cases_by_county_topk_other(cases: DataFrame, k: int = 9) -> DataFrame:
    """Q4: donut — total cases per county, top-k + 'Other', pct-of-total.

    The row_number rank (which IS the top-k semantics) and the grand
    total share one constant-key global window; its input is the
    per-county aggregates (bounded by county cardinality), never the
    fact table. Coalesced to one partition, that input already satisfies
    the window, the bucket ``groupBy`` and the final ``orderBy``: no
    exchange after the aggregate and no range-sampling job for the sort.
    """
    per_county = cases.groupBy("county").agg(F.sum("new_cases").alias("cases")).coalesce(1)
    all_counties = W.partitionBy(const_key("county"))
    ranked = per_county.select(
        "county",
        "cases",
        F.row_number()
        .over(all_counties.orderBy(F.col("cases").desc(), F.col("county")))
        .alias("rn"),
        F.sum("cases").over(all_counties).alias("total"),
    )
    return (
        ranked.groupBy(
            F.when(F.col("rn") <= k, F.col("county")).otherwise(F.lit("Other")).alias("county")
        )
        .agg(
            F.sum("cases").alias("cases"),
            F.round(F.sum("cases") * 100.0 / F.max("total"), 2).alias("pct"),
        )
        .orderBy(F.col("cases").desc())
    )


def q5_deaths_by_state(cases: DataFrame) -> DataFrame:
    """Q5: bar — total deaths per state, ascending; the totals (bounded by
    state cardinality) sort in one partition, without a sampling job."""
    return (
        cases.groupBy("state")
        .agg(F.sum("new_deaths").alias("deaths"))
        .coalesce(1)
        .orderBy("deaths")
    )
