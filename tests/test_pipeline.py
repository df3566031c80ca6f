"""Reference-parity pipeline tests (SURVEY §5):

- Bronze→Silver→Gold on the covid fixture, with the five dashboard
  numbers (Q1-Q5 shapes) cross-checked against DuckDB applying the SAME
  semantics to the same raw CSV;
- watermark-resume behavior (second run loads only new rows, no dups);
- one regression test per SURVEY §4.3 hazard.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import duckdb
import pytest
from py4j.protocol import Py4JJavaError

from coviddatapipeline_spark.operators.common import DUCKDB_INITCAP
from coviddatapipeline_spark.pipeline import gold
from coviddatapipeline_spark.pipeline.bronze import ingest_csv_to_bronze, read_bronze
from coviddatapipeline_spark.pipeline.etl import default_paths, run_incremental_etl
from coviddatapipeline_spark.pipeline.silver import transform_covid
from coviddatapipeline_spark.pipeline.watermark import load_watermark
from tests.covid_fixture import COUNTIES, make_rows, write_csv
from tests.parity import compare

# DuckDB twin of the Silver transform, built from the same semantic
# decisions (trim+initcap, missing/empty->0, unparsable->drop).
MEASURE = (
    "CASE WHEN {c} IS NULL OR trim({c}) = '' THEN 0 "
    "ELSE try_cast(trim({c}) AS INTEGER) END"
)
SILVER_SQL = f"""
    SELECT try_cast(trim(REPORT_DATE) AS DATE) AS date,
           {DUCKDB_INITCAP.format(x="trim(coalesce(PROVINCE_STATE_NAME, ''))")} AS state,
           {DUCKDB_INITCAP.format(x="trim(coalesce(COUNTY_NAME, ''))")} AS county,
           {MEASURE.format(c="PEOPLE_POSITIVE_NEW_CASES_COUNT")} AS new_cases,
           {MEASURE.format(c="PEOPLE_DEATH_NEW_COUNT")} AS new_deaths
    FROM covid_raw
    WHERE try_cast(trim(REPORT_DATE) AS DATE) IS NOT NULL
      AND ({MEASURE.format(c="PEOPLE_POSITIVE_NEW_CASES_COUNT")}) IS NOT NULL
      AND ({MEASURE.format(c="PEOPLE_DEATH_NEW_COUNT")}) IS NOT NULL
"""


@pytest.fixture(scope="module")
def covid_env(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("covid"))
    csv_path = os.path.join(root, "covid.csv")
    write_csv(csv_path, make_rows(2000))
    paths = default_paths(root)
    n = ingest_csv_to_bronze(spark, csv_path, paths["bronze"])
    assert n == 2000
    silver = transform_covid(read_bronze(spark, paths["bronze"]))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW covid_raw AS SELECT * FROM read_csv('{csv_path}', header=true, "
        "all_varchar=true)"
    )
    con.execute(f"CREATE VIEW covid_cases AS {SILVER_SQL}")
    return {"root": root, "csv": csv_path, "paths": paths, "silver": silver, "duck": con}


def test_silver_matches_duckdb(covid_env):
    ok, msg = compare(
        covid_env["silver"].orderBy("date", "state", "county", "new_cases", "new_deaths"),
        covid_env["duck"],
        "SELECT * FROM covid_cases",
    )
    assert ok, msg


def test_gold_q1_q2(covid_env):
    ok, msg = compare(
        gold.q1_total_count(covid_env["silver"]),
        covid_env["duck"],
        "SELECT count(*) AS n FROM covid_cases",
    )
    assert ok, msg
    ok, msg = compare(
        gold.q2_latest_date(covid_env["silver"]),
        covid_env["duck"],
        "SELECT max(date) AS latest_date FROM covid_cases",
    )
    assert ok, msg


def test_gold_q3_browse(covid_env):
    # Q3's LIMIT is only deterministic given a total order; the fixture has
    # duplicate (state, county, date) rows, so compare on a fully-ordered
    # unique prefix instead: aggregate first.
    ok, msg = compare(
        gold.q3_browse(
            covid_env["silver"]
            .groupBy("date", "state", "county")
            .agg({"new_cases": "sum", "new_deaths": "sum"})
            .withColumnRenamed("sum(new_cases)", "new_cases")
            .withColumnRenamed("sum(new_deaths)", "new_deaths")
        ),
        covid_env["duck"],
        """
        SELECT date, state, county, new_cases, new_deaths FROM (
            SELECT date, state, county,
                   CAST(sum(new_cases) AS BIGINT) AS new_cases,
                   CAST(sum(new_deaths) AS BIGINT) AS new_deaths
            FROM covid_cases GROUP BY date, state, county
        ) ORDER BY state, county, date LIMIT 2000
        """,
    )
    assert ok, msg


@pytest.mark.parametrize("k", [3, len(COUNTIES)])
def test_gold_q4_topk_other(covid_env, k):
    q4 = gold.q4_cases_by_county_topk_other(covid_env["silver"], k=k)
    ok, msg = compare(
        q4,
        covid_env["duck"],
        f"""
        WITH per_county AS (
            SELECT county, sum(new_cases) AS cases FROM covid_cases GROUP BY county
        ), ranked AS (
            SELECT county, cases,
                   row_number() OVER (ORDER BY cases DESC, county) AS rn,
                   sum(cases) OVER () AS total
            FROM per_county
        )
        SELECT CASE WHEN rn <= {k} THEN county ELSE 'Other' END AS county,
               CAST(sum(cases) AS BIGINT) AS cases,
               round(sum(cases) * 100.0 / max(total), 2) AS pct
        FROM ranked GROUP BY 1 ORDER BY cases DESC
        """,
    )
    assert ok, msg
    # k covers every county: all of them rank in, no 'Other' row appears
    if k >= len(COUNTIES):
        assert "Other" not in {r["county"] for r in q4.collect()}


def test_gold_q5_deaths_by_state(covid_env):
    ok, msg = compare(
        gold.q5_deaths_by_state(covid_env["silver"]),
        covid_env["duck"],
        "SELECT state, CAST(sum(new_deaths) AS BIGINT) AS deaths"
        " FROM covid_cases GROUP BY state ORDER BY deaths",
    )
    assert ok, msg


# --- incremental ETL + hazard regressions (SURVEY §4.3) -------------------


def test_etl_incremental_resume_no_dups_no_loss(spark, tmp_path):
    """§4.3.1 + §4.3.2: second run loads only new rows, including
    same-date stragglers; re-runs are idempotent."""
    root = str(tmp_path)
    paths = default_paths(root)
    rows = make_rows(1000)

    # split mid-date: rows 600-604 load first, 605-609 share the same
    # REPORT_DATE and arrive later — the exact straggler case the
    # reference loses (§4.3.1).
    csv1 = os.path.join(root, "batch1.csv")
    write_csv(csv1, rows[:605])
    ingest_csv_to_bronze(spark, csv1, paths["bronze"], mode="overwrite")
    r1 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r1.rows_loaded > 0
    assert load_watermark(paths["checkpoint"]) == r1.watermark

    # rows[600:] continue the same date sequence: the first few share the
    # watermark date (same-date stragglers the reference would lose).
    csv2 = os.path.join(root, "batch2.csv")
    write_csv(csv2, rows)  # full file: re-ingest everything (overwrite bronze)
    ingest_csv_to_bronze(spark, csv2, paths["bronze"], mode="overwrite")
    r2 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r2.rows_loaded > 0

    total = spark.read.parquet(paths["silver"]).count()
    clean_total = transform_covid(read_bronze(spark, paths["bronze"])).count()
    assert total == clean_total, "same-date stragglers lost or duplicated"

    # idempotence: third run with unchanged bronze loads nothing
    r3 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r3.rows_loaded == 0
    assert spark.read.parquet(paths["silver"]).count() == total


def test_etl_genuine_duplicates_neither_lost_nor_double_loaded(spark, tmp_path):
    """Exact duplicate rows on the boundary date and on a later date, split
    across two ingests, one more copy of an already-loaded boundary row
    arriving in the second: after each run Silver equals the transformed
    Bronze as a multiset, and a re-run loads nothing."""
    root = str(tmp_path)
    paths = default_paths(root)
    rows = make_rows(60)  # 10 rows per date; rows 30-39 share the 4th date
    boundary, later = rows[30], rows[45]
    csv1, csv2 = os.path.join(root, "b1.csv"), os.path.join(root, "b2.csv")
    write_csv(csv1, rows[:35] + [boundary, boundary])
    write_csv(csv2, [boundary] + rows[35:] + [later, later])

    def etl_matches_bronze():
        r = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
        silver = Counter(map(tuple, spark.read.parquet(paths["silver"]).collect()))
        bronze = Counter(map(tuple, transform_covid(read_bronze(spark, paths["bronze"])).collect()))
        assert silver == bronze
        return r

    ingest_csv_to_bronze(spark, csv1, paths["bronze"])
    r1 = etl_matches_bronze()
    assert r1.watermark == rows[30][0]  # the duplicated row's date is the boundary
    ingest_csv_to_bronze(spark, csv2, paths["bronze"], mode="append")
    r2 = etl_matches_bronze()
    assert r2.rows_loaded == 1 + 25 + 2  # the extra boundary copy, rows 35-59, two later copies
    assert etl_matches_bronze().rows_loaded == 0


def test_etl_checkpoint_loss_recovery(spark, tmp_path):
    """Lost/corrupt checkpoint with existing Silver data must NOT reload
    history (blind full reload = every row duplicated). The watermark is
    rebuilt from the target's max date."""
    root = str(tmp_path)
    paths = default_paths(root)
    csv1 = os.path.join(root, "b.csv")
    write_csv(csv1, make_rows(500))
    ingest_csv_to_bronze(spark, csv1, paths["bronze"])
    r1 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r1.rows_loaded > 0

    os.remove(paths["checkpoint"])  # simulate checkpoint loss
    r2 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r2.rows_loaded == 0, "checkpoint loss caused duplicate reload"
    assert load_watermark(paths["checkpoint"]) == r1.watermark


def test_etl_empty_input_no_crash(spark, tmp_path):
    """§4.3.6: empty/fully-consumed input must not crash (reference
    NameErrors on an empty final batch)."""
    root = str(tmp_path)
    paths = default_paths(root)
    csv1 = os.path.join(root, "empty.csv")
    write_csv(csv1, [])
    ingest_csv_to_bronze(spark, csv1, paths["bronze"])
    r = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert r.rows_loaded == 0
    assert r.watermark is None


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet_files(path):
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def test_pipeline_stages_are_single_actions(spark, tmp_path):
    """Ingest is one job (the count is observed on the write); a non-first
    ETL run is one action — the append, with its adaptive query stages
    — with no count or watermark re-run of the extract and no schema
    inference; q4 and q5 sort their bounded aggregates in one partition,
    with no range-sampling job; a no-op re-run loads nothing, keeps the
    watermark and appends at most one schema-only file."""
    root = str(tmp_path)
    paths = default_paths(root)

    def etl():
        return run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])

    rows = make_rows(1000)
    csv1, csv2 = os.path.join(root, "b1.csv"), os.path.join(root, "b2.csv")
    write_csv(csv1, rows[:605])
    write_csv(csv2, rows[605:])
    ingest_csv_to_bronze(spark, csv1, paths["bronze"])
    etl()

    n, jobs = _jobs_in_group(
        spark, "ingest", lambda: ingest_csv_to_bronze(spark, csv2, paths["bronze"], mode="append")
    )
    assert (n, jobs) == (395, 1)
    r2, jobs = _jobs_in_group(spark, "etl", etl)
    assert r2.rows_loaded > 0
    assert jobs <= 2, f"non-first ETL run ran {jobs} jobs"
    cases = spark.read.parquet(paths["silver"])
    for widget in (gold.q4_cases_by_county_topk_other, gold.q5_deaths_by_state):
        _, jobs = _jobs_in_group(spark, widget.__name__, widget(cases).collect)
        assert jobs <= 2, f"{widget.__name__} collect ran {jobs} jobs"

    silver_rows = spark.read.parquet(paths["silver"]).count()
    files = _parquet_files(paths["silver"])
    r3 = etl()
    assert r3.rows_loaded == 0
    assert r3.watermark == r2.watermark == load_watermark(paths["checkpoint"])
    assert len(_parquet_files(paths["silver"]) - files) <= 1
    assert spark.read.parquet(paths["silver"]).count() == silver_rows


def test_etl_failed_write_keeps_checkpoint(spark, tmp_path):
    """The watermark checkpoint is saved only after the observed write
    returns: a run whose Silver append fails raises and leaves it as it
    was, so the next run retries the same increment."""
    root = str(tmp_path)
    paths = default_paths(root)
    rows = make_rows(600)
    csv1, csv2 = os.path.join(root, "b1.csv"), os.path.join(root, "b2.csv")
    write_csv(csv1, rows[:300])
    write_csv(csv2, rows[300:])
    ingest_csv_to_bronze(spark, csv1, paths["bronze"])
    r1 = run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    ingest_csv_to_bronze(spark, csv2, paths["bronze"], mode="append")

    shutil.rmtree(paths["silver"])
    open(paths["silver"], "w").close()  # a regular file: no directory to append into
    with pytest.raises(Py4JJavaError):
        run_incremental_etl(spark, paths["bronze"], paths["silver"], paths["checkpoint"])
    assert load_watermark(paths["checkpoint"]) == r1.watermark


def test_silver_null_vs_missing_semantics(spark):
    """§4.3.4 decision: NULL dims coalesce to '' (not row-drop); empty
    measures default to 0; unparsable measures drop the row."""
    raw = spark.createDataFrame(
        [
            ("2021-01-01", None, "o'brien", "", "3"),        # null state kept as ''
            ("2021-01-02", " texas ", None, "5", ""),         # null county kept
            ("2021-01-03", "ohio", "x", "N/A", "1"),          # unparsable -> dropped
            ("bad-date", "ohio", "x", "1", "1"),              # bad date -> dropped
        ],
        schema="REPORT_DATE string, PROVINCE_STATE_NAME string, COUNTY_NAME string, "
        "PEOPLE_POSITIVE_NEW_CASES_COUNT string, PEOPLE_DEATH_NEW_COUNT string",
    )
    out = {r["date"].isoformat(): r for r in transform_covid(raw).collect()}
    assert set(out) == {"2021-01-01", "2021-01-02"}
    assert out["2021-01-01"]["state"] == ""
    assert out["2021-01-01"]["county"] == "O'brien"  # Spark initcap semantics
    assert out["2021-01-01"]["new_cases"] == 0
    assert out["2021-01-02"]["county"] == ""
    assert out["2021-01-02"]["new_deaths"] == 0
