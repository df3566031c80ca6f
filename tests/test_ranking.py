"""Distributed exact global ranking (operators/ranking.py): correctness
vs the single-partition window it replaces, plan proof that the
round-1 ``Exchange SinglePartition`` scale-killer is gone, and the
``bucket_of`` contract of rfm's recency ranker under either date
encoding."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from coviddatapipeline_spark.operators.ranking import (
    ntile_from_rn,
    with_global_row_number,
)
from coviddatapipeline_spark.plans import assert_no_single_partition, audit
from coviddatapipeline_spark.queries import catalog
from tests.conftest import sf_dir
from tests.parity import compare


def test_global_row_number_matches_window(spark, parity_sf_dir):
    """rn must equal row_number() OVER (ORDER BY key) exactly."""
    orders = spark.read.parquet(f"{parity_sf_dir}/orders.parquet").select(
        "o_totalprice", "o_orderkey"
    )
    ranked, n = with_global_row_number(orders, ["o_totalprice", "o_orderkey"])
    assert n == orders.count()
    expected = orders.select(
        "o_orderkey",
        F.row_number()
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .alias("rn_ref"),
    )
    diff = (
        ranked.join(expected, "o_orderkey")
        .filter(F.col("rn") != F.col("rn_ref"))
        .count()
    )
    assert diff == 0


def test_global_row_number_tiny_and_empty(spark):
    df = spark.createDataFrame([(3.0, 1), (1.0, 2), (2.0, 3)], "v double, k int")
    ranked, n = with_global_row_number(df, ["v", "k"])
    assert n == 3
    assert {(r.k, r.rn) for r in ranked.collect()} == {(2, 1), (3, 2), (1, 3)}
    empty = df.filter("v < 0")
    ranked, n = with_global_row_number(empty, ["v", "k"])
    assert n == 0 and ranked.count() == 0


@pytest.mark.parametrize("n,k", [(0, 4), (1, 4), (3, 4), (4, 4), (10, 4), (15000, 4), (7, 3)])
def test_ntile_formula_matches_sql(spark, n, k):
    """Closed-form ntile_from_rn == SQL ntile for every bucket shape."""
    if n == 0:
        return
    df = spark.range(1, n + 1).select(F.col("id").alias("rn"))
    ours = df.select("rn", ntile_from_rn(F.col("rn"), n, k).alias("b"))
    ref = df.select("rn", F.ntile(k).over(W.orderBy("rn")).alias("b_ref"))
    diff = ours.join(ref, "rn").filter(F.col("b") != F.col("b_ref")).count()
    assert diff == 0


@pytest.mark.parametrize(
    "name",
    ["window_ntile_price_quartiles", "window_percent_rank_cume", "rfm_customer_segments"],
)
def test_rewritten_rankings_have_no_single_partition_stage(
    name, spark, parity_sf_dir
):
    """The registered plans must not contain Exchange SinglePartition
    (VERDICT r01 fix #4) — the final tiny orderBy excepted: assert the
    pre-sort aggregation plan, which is what scales with data."""
    df = catalog.get(name).fn(spark, parity_sf_dir)
    assert_no_single_partition(df)
    assert audit(df)["single_partition_exchanges"] == 0


def test_running_sum_decimal_exact_and_single_bucket(spark):
    """ADVICE r02 fixes: (a) with num_buckets=1 the helper must
    short-circuit the cutpoint scan (percentile_approx with an empty
    probability array is degenerate) and still be correct; (b) for a
    DECIMAL value column the broadcast prefix offsets must accumulate
    in Decimal — every running-sum cell equals a Python-Decimal
    accumulation EXACTLY, for both the single-bucket and the
    multi-bucket path."""
    from decimal import Decimal

    from coviddatapipeline_spark.operators.ranking import with_global_running_sum

    df = spark.range(1, 201).select(
        "id", (F.col("id") * 25).cast("decimal(20,2)").alias("v")
    )
    expected = []
    acc = Decimal(0)
    for i in range(1, 201):
        acc += Decimal(i * 25)
        expected.append(acc)

    for nb in (1, 8):
        ranked, total = with_global_running_sum(df, ["id"], "v", num_buckets=nb)
        rows = ranked.orderBy("id").collect()
        assert len(rows) == 200
        for r, want in zip(rows, expected):
            got = Decimal(str(r["run_sum"]))
            assert got == want, (nb, r["id"], got, want)
        assert float(total) == float(expected[-1])


def test_running_max_matches_window_and_stays_partitioned(spark, parity_sf_dir):
    """with_global_running_max must equal the single-partition window's
    answer exactly (on a permuted, duplicate-heavy key-value set) for
    both the single- and multi-bucket paths — and the registered
    lateness profile built on it must compile without an
    Exchange SinglePartition funnel."""
    from coviddatapipeline_spark.operators.events import (
        events_lateness_watermark_profile,
    )
    from coviddatapipeline_spark.operators.ranking import with_global_running_max
    from coviddatapipeline_spark.plans import assert_no_single_partition

    df = spark.range(1, 501).select(
        "id", ((F.col("id") * 37) % 97).cast("long").alias("v")
    )
    want = {
        r["id"]: r["m"]
        for r in df.withColumn(
            "m",
            F.max("v").over(
                W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)
            ),
        ).collect()
    }
    for nb in (1, 8):
        got = with_global_running_max(df, ["id"], "v", out="m", num_buckets=nb)
        for r in got.collect():
            assert r["m"] == want[r["id"]], (nb, r["id"])

    assert_no_single_partition(events_lateness_watermark_profile(spark, parity_sf_dir))


def test_global_row_number_single_bucket(spark):
    """The row-number helper must short-circuit num_buckets=1 exactly
    like its running-sum/max siblings (review r04: the guard existed in
    only two of the three copies — a shuffle.partitions=1 session
    crashed this one with percentile_approx on an empty probability
    array) and still produce correct global row numbers."""
    df = spark.range(1, 101).select("id", (F.col("id") % 7).alias("k"))
    ranked, n = with_global_row_number(df, ["k", "id"], num_buckets=1)
    assert n == 100
    rows = ranked.orderBy("k", "id").collect()
    assert [r["rn"] for r in rows] == list(range(1, 101))


def test_running_max_nan_matches_window(spark):
    """Spark orders NaN as the GREATEST double; the driver-side bucket
    fold must agree (Python's `NaN > x` is False, so a naive compare
    silently drops a NaN bucket max). Every cell must equal the
    single-partition window exactly, including the NaN tail."""
    import math

    from coviddatapipeline_spark.operators.ranking import with_global_running_max

    vals = [1.0, 5.0, float("nan"), 2.0, 3.0, float("nan"), 4.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    got = {
        r["id"]: r["run_max"]
        for r in with_global_running_max(df, ["id"], "v", num_buckets=3).collect()
    }
    w = W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["id"]: r["m"]
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert set(got) == set(want)
    for i in got:
        if math.isnan(want[i]):
            assert math.isnan(got[i]), (i, got[i], want[i])
        else:
            assert got[i] == want[i], (i, got[i], want[i])


def test_running_sum_scale8_and_beyond_context_precision(spark):
    """Review r04 hardening: (a) a decimal column with scale > 6 must
    keep EXACT offsets (the old fixed 6-dp quantize rounded them); (b)
    totals whose digit count exceeds Python's default 28-significant-
    digit Decimal context must neither round nor raise
    InvalidOperation — the accumulation runs under a widened context."""
    from decimal import Decimal

    from coviddatapipeline_spark.operators.ranking import with_global_running_sum

    # (a) scale-8 values: exact at every cell
    df8 = spark.range(1, 51).select(
        "id", (F.col("id") / F.lit(8)).cast("decimal(20,8)").alias("v")
    )
    acc, expected = Decimal(0), []
    for i in range(1, 51):
        acc += (Decimal(i) / 8).quantize(Decimal("0.00000001"))
        expected.append(acc)
    ranked, total = with_global_running_sum(df8, ["id"], "v", num_buckets=4)
    for r, want in zip(ranked.orderBy("id").collect(), expected):
        assert Decimal(str(r["run_sum"])) == want, (r["id"], r["run_sum"], want)
    assert total == expected[-1]

    # (b) 30+ digit totals: decimal(38,6) rows of 9.9e29 each. The
    # reference model must itself run under a widened context — the
    # default 28-digit context rounds the expected values too (which is
    # exactly the bug class the engine-side fix removes).
    from decimal import localcontext

    big = Decimal("990000000000000000000000000000.000001")
    dfb = spark.createDataFrame(
        [(i, big) for i in range(1, 9)], "id long, v decimal(38,6)"
    )
    ranked, total = with_global_running_sum(dfb, ["id"], "v", num_buckets=3)
    rows = ranked.orderBy("id").collect()
    with localcontext() as ctx:
        ctx.prec = 60
        acc = Decimal(0)
        for r in rows:
            acc += big
            assert Decimal(str(r["run_sum"])) == acc, (r["id"], r["run_sum"], acc)
        assert total == acc


# o_orderdate as each encoding the testdata has used: DATE and a
# tz-naive TIMESTAMP (Spark reads the latter as TIMESTAMP_NTZ).
_DATE_ENCODINGS = {"date32": pa.date32(), "timestamp_us": pa.timestamp("us")}


def _rfm_vs_oracle(spark, orders: pa.Table, sf) -> tuple[bool, str]:
    """Write ``orders`` as ``sf/orders.parquet`` and compare the
    rfm_customer_segments builder with its DuckDB oracle over it."""
    sf.mkdir()
    path = sf / "orders.parquet"
    pq.write_table(orders, path)
    q = catalog.get("rfm_customer_segments")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
        return compare(q.fn(spark, str(sf)), con, q.oracle)
    finally:
        con.close()


def _with_date_encoding(orders: pa.Table, encoding: str) -> pa.Table:
    i = orders.schema.get_field_index("o_orderdate")
    col = orders.column(i).cast(_DATE_ENCODINGS[encoding])
    return orders.set_column(i, "o_orderdate", col)


@pytest.mark.parametrize("encoding", sorted(_DATE_ENCODINGS))
def test_rfm_segments_match_oracle_under_either_date_encoding(
    spark, tmp_path, encoding
):
    """The recency ranker buckets on the customer's last order date; it
    must accept o_orderdate stored as DATE or as TIMESTAMP and give the
    oracle's rows under both."""
    orders = pq.read_table(os.path.join(sf_dir("0.001"), "orders.parquet"))
    ok, msg = _rfm_vs_oracle(
        spark, _with_date_encoding(orders, encoding), tmp_path / "sf"
    )
    assert ok, msg


@pytest.mark.parametrize("encoding", sorted(_DATE_ENCODINGS))
def test_rfm_null_date_ranks_before_pre_1970_dates(spark, tmp_path, encoding):
    """A NULL last order sorts first in recency (Spark's ASC default,
    the oracle's NULLS FIRST). Dates before 1970 have negative day
    numbers, so the recency bucket must put NULL below them too, or
    the NULL customer lands mid-ranking and the segments change."""
    dates = [
        None,
        dt.date(1900, 3, 1),
        dt.date(1901, 6, 15),
        dt.date(1902, 12, 31),
        dt.date(1995, 1, 1),
        dt.date(1995, 4, 2),
        dt.date(1995, 7, 3),
        dt.date(1995, 10, 4),
    ]
    n = len(dates)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "o_custkey": pa.array(range(101, 101 + n), pa.int64()),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": [100.25 * (n - i) for i in range(n)],
            "o_orderdate": pa.array(dates, pa.date32()),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    ok, msg = _rfm_vs_oracle(
        spark, _with_date_encoding(orders, encoding), tmp_path / "sf"
    )
    assert ok, msg
