"""Reshaping + analytics batch four: unpivot (wide→long), distribution
windows (percent_rank/cume_dist), typed JSON parsing, map construction/
lookup, and an ordered event funnel.

All built-in column functions; the funnel is the one genuinely
"analytics-engine" shape here — conditional-min timestamps turn an
ordered-sequence match into one aggregation pass (no self-joins)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coviddatapipeline_spark.queries.catalog import register
from coviddatapipeline_spark.operators.common import duck_floor_long, t, events
from coviddatapipeline_spark.operators.ranking import const_key


@register(
    "unpivot_order_metrics",
    oracle="""
        SELECT o_orderstatus AS status, metric, round(sum(val), 2) AS total
        FROM (
            SELECT o_orderstatus, 'totalprice' AS metric, o_totalprice AS val FROM orders
            UNION ALL
            SELECT o_orderstatus, 'orders', 1.0 FROM orders
        )
        GROUP BY 1, 2
        ORDER BY status, metric
    """,
    doc=(
        "Unpivot / melt (wide→long) via stack(): per-status totals of two "
        "metrics in long form — the inverse of the pivot operator. stack "
        "is a generator expression, no shuffle beyond the final groupBy."
    ),
    tags=("reshape", "agg"),
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    long = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.expr("stack(2, 'totalprice', o_totalprice, 'orders', 1.0D) AS (metric, val)"),
    )
    return (
        long.groupBy("status", "metric")
        .agg(F.round(F.sum("val"), 2).alias("total"))
        .orderBy("status", "metric")
    )


@register(
    "window_percent_rank_cume",
    oracle="""
        SELECT bucket,
               count(*) AS n,
               round(min(pr), 4) AS min_pr,
               round(max(cd), 4) AS max_cd
        FROM (
            SELECT least(CAST(floor(percent_rank() OVER w * 10) AS INTEGER) + 1, 10)
                       AS bucket,
                   percent_rank() OVER w AS pr,
                   cume_dist() OVER w AS cd
            FROM orders
            WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
        )
        GROUP BY bucket
        ORDER BY bucket
    """,
    doc=(
        "Distribution stats: percent_rank + cume_dist over the price "
        "ordering, decile-bucketed — derived EXACTLY from distributed "
        "global row numbers (operators/ranking.py) instead of an "
        "unpartitioned window: over a unique composite key, "
        "pr=(rn-1)/(n-1) and cd=rn/n are the window functions' own "
        "definitions, with no single-partition WindowExec (round-1 "
        "scale-killer, VERDICT.md fix #4)."
    ),
    tags=("window",),
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.ranking import with_global_row_number

    orders = t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked, n = with_global_row_number(orders, ["o_totalprice", "o_orderkey"])
    # unique composite key => rank == rn, peer group size 1
    pr = (F.col("rn") - 1) / max(n - 1, 1)
    cd = F.col("rn") / n
    # decile bucket 1..10 with pr==1.0 clamped into bucket 10
    bucket = F.least(F.floor(pr * 10).cast("int") + 1, F.lit(10))
    return (
        ranked.select(bucket.alias("bucket"), pr.alias("pr"), cd.alias("cd"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("pr"), 4).alias("min_pr"),
            F.round(F.max("cd"), 4).alias("max_cd"),
        )
        .orderBy("bucket")
    )


@register(
    "from_json_typed_props",
    oracle="""
        -- json_valid guards mirror Spark's from_json, which yields a
        -- NULL struct on malformed JSON where DuckDB's json_extract
        -- raises; no-op on well-formed props.
        SELECT CAST(CASE WHEN json_valid(props)
                         THEN json_extract(props, '$.k') END AS INTEGER) % 10
                   AS k_mod,
               count(*) AS n,
               round(avg(CAST(CASE WHEN json_valid(props)
                                   THEN json_extract(props, '$.k') END
                              AS INTEGER)), 4) AS avg_k
        FROM events
        GROUP BY 1
        ORDER BY k_mod
    """,
    doc=(
        "Typed JSON parsing with an explicit schema (from_json -> struct), "
        "vs the schemaless get_json_object sibling: one parse into a "
        "columnar struct, fields then free to access. The 100 TB form — "
        "parse once, never re-scan the string."
    ),
    tags=("function", "json"),
)
def from_json_typed_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = ev.select(F.from_json("props", schema).alias("p"))
    return (
        parsed.select((F.col("p.k") % 10).alias("k_mod"), F.col("p.k").alias("k"))
        .groupBy("k_mod")
        .agg(F.count("*").alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
        .orderBy("k_mod")
    )


@register(
    "map_priority_rates",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(*) AS n,
               round(sum(o_totalprice * (map(
                   ['1-URGENT', '2-HIGH'], [1.1, 1.05]
               )[o_orderpriority][1])), 2) AS weighted_total
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY 1
        ORDER BY priority
    """,
    doc=(
        "Map construction + lookup (create_map / element_at): a literal "
        "rate table applied as a column expression — the broadcast-free "
        "way to join a tiny constant mapping."
    ),
    tags=("function", "map"),
)
def map_priority_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    rates = F.create_map(
        F.lit("1-URGENT"), F.lit(1.1), F.lit("2-HIGH"), F.lit(1.05)
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice") * F.element_at(rates, F.col("o_orderpriority"))),
                2,
            ).alias("weighted_total"),
        )
        .orderBy("priority")
    )


@register(
    "events_funnel_conversion",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(ts) FILTER (WHERE event_type = 'signup') AS t_signup,
                   min(ts) FILTER (WHERE event_type = 'click') AS t_click,
                   min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT count(*) FILTER (WHERE t_signup IS NOT NULL) AS n_signup,
               count(*) FILTER (WHERE t_signup < t_click) AS n_signup_click,
               count(*) FILTER (WHERE t_signup < t_click AND t_click < t_purchase)
                   AS n_full_funnel
        FROM per_user
    """,
    doc=(
        "Ordered event funnel (signup -> click -> purchase): conditional-"
        "min first-occurrence timestamps per user collapse the sequence "
        "match into ONE aggregation pass — no self-joins, no window sort; "
        "the standard scale-out funnel formulation (one shuffle on "
        "user_id, map-side partial mins)."
    ),
    tags=("events", "agg"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.col("t_signup")).alias("n_signup"),
        F.count_if(F.col("t_signup") < F.col("t_click")).alias("n_signup_click"),
        F.count_if(
            (F.col("t_signup") < F.col("t_click"))
            & (F.col("t_click") < F.col("t_purchase"))
        ).alias("n_full_funnel"),
    )


@register(
    "decimal_money_totals",
    oracle="""
        SELECT o_orderstatus AS status,
               -- The isfinite CASE mirrors Spark's cast(double AS
               -- decimal), which yields NULL on NaN (measured, skipped by
               -- sum); DuckDB's CAST — even TRY_CAST — raises on NaN.
               -- No-op on finite prices.
               CAST(sum(CASE WHEN isfinite(o_totalprice)
                             THEN CAST(o_totalprice AS DECIMAL(18, 2))
                        END) AS VARCHAR)
                   AS total_exact,
               count(*) AS n
        FROM orders
        GROUP BY 1
        ORDER BY status
    """,
    doc=(
        "Exact decimal money arithmetic: cast-at-ingest to DECIMAL(18,2) "
        "and sum without floating drift. At 100 TB a double sum of "
        "billions of prices accumulates ulp error and depends on "
        "partial-sum order; decimal aggregation is associative-exact, so "
        "results are reproducible across partitionings — the correctness "
        "reason warehouses keep money in decimal. The exact total is "
        "EMITTED as its decimal string on both engines: pandas coerces a "
        "DuckDB DECIMAL to float64 (driver fetch path), which would "
        "reintroduce the very drift the operator exists to avoid."
    ),
    tags=("agg", "decimal"),
)
def decimal_money_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum(F.col("o_totalprice").cast(T.DecimalType(18, 2)))
            .cast("string")
            .alias("total_exact"),
            F.count("*").alias("n"),
        )
        .orderBy("status")
    )


@register(
    "setops_multiset_variants",
    oracle="""
        SELECT 'except_all' AS op, count(*) AS n FROM (
            SELECT o_custkey FROM orders
            EXCEPT ALL
            SELECT c_custkey FROM customer
        )
        UNION ALL
        SELECT 'intersect_all', count(*) FROM (
            SELECT o_custkey FROM orders
            INTERSECT ALL
            SELECT c_custkey FROM customer
        )
        ORDER BY op
    """,
    doc=(
        "Multiset (bag) set operations — INTERSECT ALL keeps min "
        "multiplicity, EXCEPT ALL subtracts multiplicities — the ALL "
        "variants the DISTINCT-based sibling (set_ops_nation_presence) "
        "can't express. Spark plans both as aggregations on the value, "
        "not joins: one shuffle each."
    ),
    tags=("setop",),
)
def setops_multiset_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_k = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    cust_k = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ex = orders_k.exceptAll(cust_k).agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    inter = orders_k.intersectAll(cust_k).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    return ex.unionByName(inter).orderBy("op")


@register(
    "events_cohort_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   datediff('week', f.cohort_week, date_trunc('week', e.ts))
                       AS week_offset
            FROM events e JOIN firsts f USING (user_id)
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
               week_offset,
               count(*) AS active_users
        FROM activity
        GROUP BY 1, 2
        ORDER BY cohort, week_offset
    """,
    doc=(
        "Weekly cohort retention matrix: users cohorted by first-activity "
        "week, counted per (cohort, week-offset). Two shuffles (first-seen "
        "agg on user_id, final cohort group); the user->cohort map joins "
        "back on the same user_id partitioning, so no third shuffle."
    ),
    tags=("events", "agg", "analytics"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"), "week_offset"
        )
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort", "week_offset")
    )


@register(
    "rfm_customer_segments",
    # Monetary is carried as EXACT integer cents end-to-end (round-4
    # fixed-point pattern): per-order cents via the total Spark-floor
    # form, int64 sums, and a HALF_UP average as pure integer division
    # (2S + n) div (2n) — both engines truncate integer division toward
    # zero, verified. The previous double-avg form hit a data-dependent
    # last-ulp tie at sf0.1 (261145116.5 +/- 1 ulp) when round-8
    # testdata regenerated; exact cents cannot tie.
    oracle=f"""
        WITH rfm AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   -- duck_floor_long mirrors Spark's total floor(double)
                   -- (NaN order -> 0 cents, Inf -> Long.MAX) instead of
                   -- crashing DuckDB's CAST; no-op on finite prices.
                   sum({duck_floor_long('o_totalprice * 100 + 0.5')})
                       AS monetary_cents
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey,
                   -- NULLS FIRST pins DuckDB to Spark's ASC default (a
                   -- NULL last_order from an all-NULL-date customer sorts
                   -- first in Spark, last in bare DuckDB). No-op when
                   -- keys are non-NULL (clean data).
                   ntile(4) OVER (ORDER BY last_order NULLS FIRST,
                                  o_custkey NULLS FIRST) AS r,
                   ntile(4) OVER (ORDER BY frequency NULLS FIRST,
                                  o_custkey NULLS FIRST) AS f,
                   ntile(4) OVER (ORDER BY monetary_cents NULLS FIRST,
                                  o_custkey NULLS FIRST) AS m,
                   monetary_cents
            FROM rfm
        )
        SELECT concat(r, f, m) AS segment,
               count(*) AS n_customers,
               -- avg() semantics: divide by the non-NULL count; NULL
               -- when every customer's monetary is NULL (mirrors
               -- Spark's div-by-zero -> NULL).
               -- CAST collapses DuckDB's HUGEINT sum-promotion back to
               -- the engine's int64 (round-2 HUGEINT class)
               CAST(CASE WHEN count(monetary_cents) = 0 THEN NULL
                         ELSE (2 * sum(monetary_cents) + count(monetary_cents))
                              // (2 * count(monetary_cents)) END
                    AS BIGINT) AS avg_monetary_cents
        FROM scored
        GROUP BY 1
        ORDER BY segment
    """,
    doc=(
        "RFM (recency/frequency/monetary) quartile segmentation — the "
        "classic customer-analytics composite: per-customer aggregate, "
        "three EXACT quartile assignments via distributed global row "
        "numbers (operators/ranking.py) + the closed-form ntile formula "
        "— the per-customer table is still SF-scaled (billions of "
        "customers at 100 TB), so no unpartitioned ntile windows "
        "(round-1 scale-killer, VERDICT.md fix #4). Money is exact "
        "integer cents throughout: sums, the m-quartile sort key, and "
        "the HALF_UP average ((2S+n) div 2n) are all int64 — "
        "bit-deterministic under any partitioning / summation order."
    ),
    tags=("window", "agg", "analytics"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.ranking import (
        ntile_from_rn,
        with_global_row_number,
    )

    orders = t(spark, sf_dir, "orders")
    # persist: each with_global_row_number call launches eager cutpoint +
    # count jobs, and the three chained calls would otherwise re-execute
    # the orders scan+groupBy ~9 times (code-review r2)
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            # floor(double) is total in Spark (NaN->0, Inf->Long.MAX)
            # and returns LongType: exact cents, order-independent sum
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).alias(
                "monetary_cents"
            ),
        )
        .persist()
    )
    # The three quartile rankings are INDEPENDENT functions of the
    # persisted per-customer frame, so their eager cutpoint/count jobs
    # (two per ranker, six total) run overlapped from a thread pool
    # (OPTIMIZATION_r12 §C9, guide §2.6 — the bakeoff-training
    # precedent §B3) instead of strictly chained; each ranked frame is
    # keyed by the unique o_custkey, so the equi-joins below reattach
    # the two extra rank columns with no row multiplication and the
    # scored rows are identical to the previously-chained form.
    from concurrent.futures import ThreadPoolExecutor

    # OPTIMIZATION_r13 §10 (the §B4 bucket_of contract): two of the
    # three lead keys are BOUNDED, so their rankers skip the
    # approx_percentile cutpoint job — bucketing affects balance only,
    # offsets still come from the exact per-bucket counts. last_order
    # is calendar-bounded: unix_date(CAST(last_order AS DATE)) DIV 64
    # ≈ one bucket per ~2 months. The cast takes o_orderdate stored as
    # DATE (a no-op) or as TIMESTAMP / TIMESTAMP_NTZ (the day, in the
    # session's UTC zone for TIMESTAMP), monotone non-decreasing
    # either way; DIV truncates toward zero, also monotone, so dates
    # up to 1969-10-29 get negative buckets, down to -11236 for
    # 0001-01-01. NULL dates coalesce to INT_MIN, below every date
    # bucket, where the cutpoint path puts NULL leads. frequency is
    # its own bucket (a per-customer order count — ints bounded far
    # below any bucket explosion, never NULL by construction of
    # count(*), coalesced for totality anyway). monetary_cents is
    # unbounded: cutpoint path.
    def rank(args):
        key, out, bucket = args
        return with_global_row_number(
            rfm, [key, "o_custkey"], out=out, bucket_of=bucket
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        (ranked_r, n), (ranked_f, _), (ranked_m, _) = list(
            pool.map(
                rank,
                [
                    (
                        "last_order",
                        "rn_r",
                        F.expr(
                            "coalesce(unix_date(CAST(last_order AS DATE))"
                            " DIV 64, -2147483648)"
                        ),
                    ),
                    ("frequency", "rn_f", F.expr("coalesce(frequency, 0)")),
                    ("monetary_cents", "rn_m", None),
                ],
            )
        )
    ranked = (
        ranked_r.select("o_custkey", "monetary_cents", "rn_r")
        .join(ranked_f.select("o_custkey", "rn_f"), "o_custkey")
        .join(ranked_m.select("o_custkey", "rn_m"), "o_custkey")
    )
    scored = ranked.select(
        ntile_from_rn(F.col("rn_r"), n, 4).alias("r"),
        ntile_from_rn(F.col("rn_f"), n, 4).alias("f"),
        ntile_from_rn(F.col("rn_m"), n, 4).alias("m"),
        "monetary_cents",
    )
    return (
        scored.groupBy(F.concat("r", "f", "m").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            # HALF_UP average in pure integer arithmetic; Spark's `div`
            # yields NULL on a zero divisor (all-NULL segment), matching
            # the oracle's CASE.
            F.expr(
                "(2 * sum(monetary_cents) + count(monetary_cents))"
                " div (2 * count(monetary_cents))"
            ).alias("avg_monetary_cents"),
        )
        .orderBy("segment")
    )


@register(
    "profile_orders_columns",
    oracle="""
        -- The sd CASE mirrors Spark's stddev_samp, which propagates
        -- NaN (the profile then SHOWS the degenerate column as NaN —
        -- the finding a profiler exists to surface); DuckDB's bare
        -- STDDEV_SAMP raises out-of-range on NaN input instead.
        -- avg/min/max propagate NaN identically unguarded.
        -- No-op on finite prices.
        SELECT 'o_totalprice' AS col,
               count(o_totalprice) AS n_nonnull,
               round(avg(o_totalprice), 4) AS mean,
               round(CASE WHEN bool_or(isnan(o_totalprice)) THEN 'NaN'::DOUBLE
                          ELSE stddev_samp(o_totalprice)
                               FILTER (WHERE NOT isnan(o_totalprice))
                     END, 4) AS sd,
               round(min(o_totalprice), 2) AS min_v,
               round(max(o_totalprice), 2) AS max_v,
               count(DISTINCT o_orderstatus) AS n_status
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               count(o_custkey),
               round(avg(o_custkey), 4),
               round(stddev_samp(o_custkey), 4),
               round(min(o_custkey), 2),
               round(max(o_custkey), 2),
               count(DISTINCT o_orderstatus)
        FROM orders
        ORDER BY col
    """,
    doc=(
        "Data profiling (the df.summary() shape as a deterministic "
        "query): per-column nonnull count / mean / stddev / min / max in "
        "one scan — all algebraic aggregates, map-side combinable; the "
        "first thing a pipeline runs on a new 100 TB drop."
    ),
    tags=("agg", "profiling"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")

    def prof(col: str):
        return orders.agg(
            F.lit(col).alias("col"),
            F.count(col).alias("n_nonnull"),
            F.round(F.avg(col), 4).alias("mean"),
            F.round(F.stddev_samp(col), 4).alias("sd"),
            F.round(F.min(col).cast("double"), 2).alias("min_v"),
            F.round(F.max(col).cast("double"), 2).alias("max_v"),
            F.countDistinct("o_orderstatus").alias("n_status"),
        )

    return prof("o_totalprice").unionByName(prof("o_custkey")).orderBy("col")


@register(
    "union_by_name_evolved_schemas",
    oracle="""
        SELECT o_orderstatus AS status, count(*) AS n,
               count(o_channel) AS n_with_channel
        FROM (
            SELECT o_orderkey, o_orderstatus, NULL AS o_channel
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL BY NAME
            SELECT o_orderkey, 'web' AS o_channel, o_orderstatus
            FROM orders WHERE o_orderkey % 2 = 1
        )
        GROUP BY 1
        ORDER BY status
    """,
    doc=(
        "Schema-evolution-tolerant union: two batches whose schemas "
        "drifted (column added, order changed) unioned BY NAME with "
        "missing columns null-filled — the append path for an evolving "
        "lake table; positional UNION would silently mis-bind columns."
    ),
    tags=("setop", "reshape"),
)
def union_by_name_evolved_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    old_batch = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new_batch = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.lit("web").alias("o_channel"), "o_orderstatus"
    )
    merged = old_batch.unionByName(new_batch, allowMissingColumns=True)
    return (
        merged.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n"), F.count("o_channel").alias("n_with_channel"))
        .orderBy("status")
    )


@register(
    "orders_yoy_growth",
    oracle="""
        -- NULLS FIRST pins the lag chain to Spark's default ASC null
        -- placement (DuckDB defaults NULLS LAST): a NULL-dated poison
        -- year otherwise sits at the opposite end of the series and
        -- flips both its own growth and its neighbor's lag. x/0 is
        -- NULL in DuckDB exactly like the engine's try_divide, so the
        -- zero-revenue NULL-year predecessor stays NULL on both sides.
        -- No-op on clean data (round-8 poison-parity convergence).
        WITH yearly AS (
            SELECT year(o_orderdate) AS yr, sum(o_totalprice) AS rev
            FROM orders GROUP BY 1
        )
        SELECT yr,
               round(rev, 2) AS revenue,
               round(100.0 * (rev - lag(rev) OVER (ORDER BY yr NULLS FIRST))
                     / lag(rev) OVER (ORDER BY yr NULLS FIRST), 4) AS yoy_pct
        FROM yearly
        ORDER BY yr
    """,
    doc=(
        "Year-over-year growth: lag window over the yearly aggregate "
        "(|years| rows — the window input is always the reduced series, "
        "never the fact table). The canonical BI self-comparison shape."
    ),
    tags=("window", "timeseries", "analytics"),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    yearly = orders.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    # constant-key global window: input is per-year aggregates
    w = W.partitionBy(const_key("yr")).orderBy("yr")
    prev = F.lag("rev").over(w)
    return yearly.select(
        "yr",
        F.round("rev", 2).alias("revenue"),
        # try_divide: a prior year with zero (or fully-NULL) revenue has
        # no defined growth rate — NULL, not an ANSI DIVIDE_BY_ZERO that
        # kills the job. Identical to `/` for every nonzero prior year.
        F.round(F.try_divide(100.0 * (F.col("rev") - prev), prev), 4).alias(
            "yoy_pct"
        ),
    ).orderBy("yr")


@register(
    "supplier_balance_zscore",
    oracle="""
        WITH stats AS (
            SELECT s_nationkey,
                   avg(s_acctbal) AS mu,
                   stddev_samp(s_acctbal) AS sd
            FROM supplier GROUP BY s_nationkey
        )
        SELECT s_suppkey,
               s_nationkey AS nation_key,
               round((s_acctbal - mu) / sd, 4) AS balance_z
        FROM supplier JOIN stats USING (s_nationkey)
        ORDER BY s_suppkey
    """,
    doc=(
        "Per-group z-score standardization (feature normalization): "
        "group stats joined back and applied as column math. Expressed "
        "as agg + broadcast join rather than two windows, so the stats "
        "partial-aggregate map-side and rows never sort — the "
        "feature-engineering normalization pass of an ML data pipeline."
    ),
    tags=("agg", "analytics", "function"),
)
def supplier_balance_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = t(spark, sf_dir, "supplier")
    stats = supplier.groupBy("s_nationkey").agg(
        F.avg("s_acctbal").alias("mu"), F.stddev_samp("s_acctbal").alias("sd")
    )
    return (
        supplier.join(F.broadcast(stats), "s_nationkey")
        .select(
            "s_suppkey",
            F.col("s_nationkey").alias("nation_key"),
            F.round((F.col("s_acctbal") - F.col("mu")) / F.col("sd"), 4).alias(
                "balance_z"
            ),
        )
        .orderBy("s_suppkey")
    )


@register(
    "part_price_histogram",
    oracle=f"""
        -- duck_floor_long mirrors Spark's total floor(double)->BIGINT
        -- (NaN -> bin 0, +/-Inf -> Long.MIN/MAX), so a NaN price joins
        -- bin 0 on both engines (its NaN then surfaces in that bin's
        -- hi) instead of crashing DuckDB's CAST. The bin stays BIGINT
        -- on BOTH sides (ADVICE r07): a narrowing INT cast would raise
        -- in DuckDB on a -Inf price's Long.MIN bin while Spark's
        -- non-ANSI long->int cast silently wraps — keeping the floor's
        -- native width removes the seam entirely. No-op on finite
        -- prices (clean bins are 0..19).
        SELECT least(({duck_floor_long('(p_retailprice - 900.0) / 10.0')}),
                     19)
                   AS bin,
               count(*) AS n,
               round(min(p_retailprice), 2) AS lo,
               round(max(p_retailprice), 2) AS hi
        FROM part
        GROUP BY 1
        ORDER BY bin
    """,
    doc=(
        "Fixed-width numeric histogram (floor-binning with a clamped "
        "overflow bin): the one-pass distribution profile — bins are "
        "computed as pure column math so the histogram is a plain "
        "groupBy, map-side combinable at any scale."
    ),
    tags=("agg", "analytics"),
)
def part_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    # bin stays BIGINT (floor's native width): narrowing to INT would
    # silently wrap a -Inf price's Long.MIN bin under non-ANSI casts
    # while the DuckDB oracle's INT cast raised — ADVICE r07.
    bin_col = F.least(
        F.floor((F.col("p_retailprice") - 900.0) / 10.0), F.lit(19).cast("long")
    )
    return (
        part.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("p_retailprice"), 2).alias("lo"),
            F.round(F.max("p_retailprice"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "orders_weekday_seasonality",
    oracle="""
        SELECT dayofweek(o_orderdate) AS dow,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        GROUP BY 1
        ORDER BY dow
    """,
    doc=(
        "Calendar seasonality: order volume and value by day-of-week "
        "(DuckDB dayofweek = Sunday 0; Spark dayofweek = Sunday 1, "
        "aligned by subtracting 1) — the periodicity profile behind "
        "demand forecasting."
    ),
    tags=("agg", "timeseries", "function"),
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy((F.dayofweek("o_orderdate") - 1).alias("dow"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("dow")
    )


ANOMALY_Z = 2.0


@register(
    "daily_revenue_anomalies",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(o_totalprice) AS rev
            FROM orders GROUP BY day
        ),
        stats AS (
            -- The CASE mirrors Spark's stddev_samp, which propagates a
            -- NaN day to a NaN sigma (every day then emits with z=NaN,
            -- since NaN compares greatest on both engines); DuckDB's
            -- bare STDDEV_SAMP instead raises an out-of-range error on
            -- NaN input. avg already propagates NaN identically.
            -- No-op on finite revenues.
            SELECT avg(rev) AS mu,
                   CASE WHEN bool_or(isnan(rev)) THEN 'NaN'::DOUBLE
                        ELSE stddev_samp(rev) FILTER (WHERE NOT isnan(rev))
                   END AS sigma
            FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               round(rev, 2) AS revenue,
               round((rev - mu) / sigma, 4) AS z
        FROM daily CROSS JOIN stats
        WHERE abs(round((rev - mu) / sigma, 4)) > {ANOMALY_Z}
        ORDER BY day
    """,
    doc=(
        "Univariate anomaly detection on the daily revenue series: "
        f"days whose z-score exceeds |{ANOMALY_Z}| against the "
        "global mean/stddev. Daily rollup is one map-side-combinable "
        "shuffle; mu/sigma ride a broadcast cross-join (no collect, no "
        "second scan); the anomaly predicate compares the ROUNDED "
        "z-score on both engines so a boundary day can't flip "
        "membership on sub-ulp stddev differences. The monitoring "
        "primitive behind data-drift alerts on ingest volume."
    ),
    tags=("agg", "analytics"),
)
def daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    stats = daily.agg(
        F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sigma")
    )
    z = F.round((F.col("rev") - F.col("mu")) / F.col("sigma"), 4)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("rev", 2).alias("revenue"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > ANOMALY_Z)
        .orderBy("day")
    )


@register(
    "orders_cohort_ltv_matrix",
    oracle="""
        WITH first_order AS (
            SELECT o_custkey,
                   min(date_trunc('month', o_orderdate)) AS cohort_month
            FROM orders GROUP BY o_custkey
        ),
        aged AS (
            SELECT strftime(f.cohort_month, '%Y-%m') AS cohort,
                   CAST(datediff('month', f.cohort_month,
                                 date_trunc('month', o.o_orderdate)) AS INT)
                       AS age_months,
                   o.o_totalprice AS price, o.o_custkey
            FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
        )
        SELECT cohort, age_months,
               count(DISTINCT o_custkey) AS active_customers,
               count(*) AS n_orders,
               round(sum(price), 2) AS revenue
        FROM aged
        GROUP BY cohort, age_months
        ORDER BY cohort, age_months
    """,
    doc=(
        "Customer-cohort LTV matrix over ORDERS (the events-side "
        "sibling is events_cohort_retention): customers grouped by "
        "first-purchase month, revenue and active count per cohort "
        "age in months. Two shuffles — the per-customer min reduction "
        "(map-side combinable), then the (cohort, age) rollup after a "
        "customer-key equi-join whose right side is one row per "
        "customer (at 100 TB the first_order table is the thing you "
        "materialize incrementally, not recompute). Month arithmetic "
        "uses truncated month difference on both engines."
    ),
    tags=("agg", "join", "analytics"),
)
def orders_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    aged = orders.join(first, "o_custkey").select(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        ).cast("int").alias("age_months"),
        F.col("o_totalprice").alias("price"),
        "o_custkey",
    )
    return (
        aged.groupBy("cohort", "age_months")
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("price"), 2).alias("revenue"),
        )
        .orderBy("cohort", "age_months")
    )
