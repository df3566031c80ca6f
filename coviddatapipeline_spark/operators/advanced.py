"""Relational surface, third batch: JSON path extraction, correlated
subqueries, a classic TPC-H-shaped join-agg-topk, bucketed range join,
approximate distinct, skew-salted aggregation, null-handling functions,
date-spine gap fill, FILTER-style conditional aggregation, arg-max, and
interval-frame moving averages.

Scale notes are per-operator; the unifying theme is that every shape
here either stays in whole-stage codegen or deliberately demonstrates a
100 TB technique (salting, bucketed range join, approx sketches) whose
semantics are oracle-checked against the naive formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coviddatapipeline_spark.queries.catalog import register
from coviddatapipeline_spark.operators.common import t, events
from coviddatapipeline_spark.operators.ranking import const_key


@register(
    "json_props_topk",
    oracle="""
        -- json_valid guard mirrors Spark's get_json_object (NULL on
        -- malformed JSON) where DuckDB's json_extract raises; no-op on
        -- well-formed props.
        SELECT CAST(CASE WHEN json_valid(props)
                         THEN json_extract(props, '$.k') END AS INTEGER) AS k,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1
        ORDER BY n DESC, k
        LIMIT 20
    """,
    doc=(
        "JSON path extraction over a string column (get_json_object) + "
        "re-aggregation. At scale prefer from_json with an explicit schema "
        "once the shape is known — single parse, columnar afterwards."
    ),
    tags=("function", "json"),
)
def json_props_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), "value"
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy(F.col("n").desc(), "k")
        .limit(20)
    )


@register(
    "correlated_above_customer_avg",
    oracle="""
        SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
    doc=(
        "Correlated scalar subquery (orders above their own customer's "
        "average) decorrelated into a window aggregate — the rewrite "
        "Catalyst itself performs; one shuffle on the correlation key "
        "instead of a per-row re-scan."
    ),
    tags=("subquery", "window"),
)
def correlated_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    doc=(
        "TPC-H Q3 shape (shipping priority): selective dimension filter -> "
        "fact join -> group -> top-10. The customer filter is pushed to the "
        "parquet scan; AQE broadcasts the filtered side when it fits, else "
        "shuffles — customer scales with SF, so it is not hard-broadcast."
    ),
    tags=("join", "agg", "tpch"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # Broadcast ONLY the true dimension (filtered customer); orders and
    # lineitem are fact tables — their join shuffles on orderkey (AQE
    # upgrades it to broadcast at small SF where the filtered side fits).
    return (
        lineitem.join(
            orders.join(customer, orders.o_custkey == customer.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "range_join_clicks_before_purchase",
    oracle="""
        SELECT p.event_id AS purchase_id,
               count(*) AS n_clicks,
               round(sum(c.value), 2) AS click_value
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 15 MINUTE
         AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id
        ORDER BY purchase_id
    """,
    doc=(
        "Range (interval) join via time-bucketing: clicks within the 15 "
        "minutes before each purchase. A naive inequality join is a "
        "per-user cross product; bucketing both sides to 15-minute epochs "
        "and equi-joining on (user_id, bucket) x {b-1, b} turns it into a "
        "hash join with a residual range filter — the standard scale-out "
        "rewrite for bounded-interval joins (cf. Spark's range-join hints)."
    ),
    tags=("join", "events", "range"),
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket_s = 900  # = interval width, so a purchase's window spans <= 2 buckets
    ev = events(spark, sf_dir)
    epoch = F.unix_timestamp("ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
            (epoch / bucket_s).cast("long").alias("bucket"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            (epoch / bucket_s).cast("long").alias("p_bucket"),
        )
        # candidate buckets: the purchase's own bucket and the previous one
        .withColumn("bucket", F.explode(F.array(F.col("p_bucket") - 1, F.col("p_bucket"))))
    )
    return (
        purchases.join(clicks, ["bucket"], "inner")
        .filter(
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 15 MINUTES"))
            & (F.col("c_ts") < F.col("p_ts"))
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n_clicks"), F.round(F.sum("c_value"), 2).alias("click_value"))
    )


@register(
    "approx_distinct_users_by_type",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS approx_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "approx_count_distinct (HyperLogLog++) bounded-error audit: the "
        "100 TB substitute for exact COUNT(DISTINCT) is a mergeable "
        "fixed-size sketch, but its estimate is engine-specific, so the "
        "raw value can never hash-match a DuckDB oracle. What IS "
        "checkable cross-engine is the sketch's error CONTRACT: this "
        "entry computes both the HLL++ estimate (rsd 0.01) and the "
        "exact count, and emits approx_ok = |approx - exact| <= 5% * "
        "exact alongside the exact calibration columns; the oracle "
        "emits the same exact counts with approx_ok = TRUE, so the "
        "hash fails iff the sketch ever violates its tested tolerance "
        "(same audit shape as dedup_minhash_estimator_audit). "
        "Production at scale runs the sketch ALONE — the exact count "
        "here is the calibration term an audit pays for, not the "
        "production plan."
    ),
    tags=("agg", "approx"),
)
def approx_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.count_distinct(F.col("user_id")).alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "salted_agg_event_value",
    oracle="""
        SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "Skew-salted two-stage aggregation: low-cardinality group keys "
        "(5 event types over billions of rows) hot-spot a single reducer; "
        "salting to (key, hash%16) spreads the partial aggregation across "
        "16x reducers, then a cheap final merge on the real key. Semantics "
        "identical to the plain GROUP BY — which is exactly what the "
        "oracle checks. (AQE skew handling covers joins; agg skew still "
        "wants explicit salt.)"
    ),
    tags=("agg", "skew"),
)
def salted_agg_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("pn"), F.sum("value").alias("pv"))
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("pv"), 2).alias("total_value"))
        .orderBy("event_type")
    )


@register(
    "null_handling_funcs",
    oracle="""
        SELECT coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
               count(*) AS n,
               round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN o_totalprice END), 2) AS urgent_total,
               count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent
        FROM orders
        GROUP BY 1
        ORDER BY status_label
    """,
    doc=(
        "Null-handling family: nullif / coalesce relabeling plus null-"
        "skipping conditional sums (CASE with no ELSE -> NULL -> ignored "
        "by SUM/COUNT) — all codegen'd column expressions."
    ),
    tags=("function",),
)
def null_handling_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))
    return (
        orders.groupBy(
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
                "status_label"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(urgent), 2).alias("urgent_total"),
            F.count(urgent).alias("n_urgent"),
        )
        .orderBy("status_label")
    )


@register(
    "gapfill_daily_order_counts",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   count(*) AS dn,
                   round(sum(o_totalprice), 2) AS dtotal
            FROM orders GROUP BY 1
        ),
        spine AS (
            SELECT unnest(generate_series((SELECT min(d) FROM daily),
                                          (SELECT max(d) FROM daily),
                                          INTERVAL 1 DAY))::DATE AS d
        )
        SELECT strftime(spine.d, '%Y-%m-%d') AS day,
               coalesce(dn, 0) AS n,
               coalesce(dtotal, 0.0) AS total
        FROM spine LEFT JOIN daily ON spine.d = daily.d
        ORDER BY day
    """,
    doc=(
        "Time-series gap fill: generate a dense date spine with "
        "sequence()/explode and left-join the sparse daily aggregate, "
        "zero-filling missing days. The spine is computed from a 1-row "
        "aggregate (no driver collect); at scale the spine stays tiny "
        "(one row per day) and broadcasts."
    ),
    tags=("timeseries", "array"),
)
def gapfill_daily_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("dn"), F.round(F.sum("o_totalprice"), 2).alias("dtotal"))
    )
    spine = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("dn", F.lit(0)).alias("n"),
            F.coalesce("dtotal", F.lit(0.0)).alias("total"),
        )
        .orderBy("day")
    )


@register(
    "filtered_conditional_agg",
    oracle="""
        SELECT l_linestatus AS status,
               count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
               round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
                   AS discounted_revenue,
               round(avg(l_quantity) FILTER (WHERE l_tax > 0.04), 4) AS taxed_avg_qty
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY status
    """,
    doc=(
        "FILTER-style conditional aggregation (count_if / conditional "
        "sum+avg): one pass over the fact table computing differently-"
        "predicated aggregates — replaces N filtered subqueries with one "
        "scan."
    ),
    tags=("agg", "function"),
)
def filtered_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_linestatus").alias("status"))
        .agg(
            F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
            F.round(
                F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
            ).alias("discounted_revenue"),
            F.round(F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_quantity"))), 4).alias(
                "taxed_avg_qty"
            ),
        )
        .orderBy("status")
    )


@register(
    "argmax_supplier_per_nation",
    oracle="""
        SELECT n_name AS nation,
               (m).b AS best_acctbal,
               (m).k AS best_suppkey,
               (m).nm AS best_supplier
        FROM (
            SELECT n_name,
                   max(struct_pack(b := s_acctbal, k := s_suppkey, nm := s_name)) AS m
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        )
        ORDER BY nation
    """,
    doc=(
        "arg-max via max-over-struct (lexicographic struct ordering, "
        "suppkey tiebreak for determinism): richest supplier per nation "
        "in a single partial-aggregatable pass — no window, no self-join, "
        "so it map-side combines at 100 TB."
    ),
    tags=("agg", "argmax"),
)
def argmax_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.max(F.struct("s_acctbal", "s_suppkey", "s_name")).alias("m"))
        .select(
            "nation",
            F.col("m.s_acctbal").alias("best_acctbal"),
            F.col("m.s_suppkey").alias("best_suppkey"),
            F.col("m.s_name").alias("best_supplier"),
        )
        .orderBy("nation")
    )


@register(
    "window_moving_avg_7day_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   -- TRY_CAST mirrors the engine's try_cast (NaN/Inf
                   -- price -> NULL, skipped by sum) instead of a DuckDB
                   -- conversion error; no-op on finite prices.
                   CAST(sum(TRY_CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
        SELECT strftime(d, '%Y-%m-%d') AS day,
               round(cents / 100.0, 2) AS revenue,
               ((2 * sum(cents) OVER w + count(*) OVER w)
                // (2 * count(*) OVER w)) / 100.0 AS ma7
        FROM daily
        WINDOW w AS (ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                     AND CURRENT ROW)
        ORDER BY day
    """,
    doc=(
        "Interval-frame window (RANGE BETWEEN 6 days PRECEDING): trailing "
        "7-day moving average of daily revenue, expressed with rangeBetween "
        "over epoch-day ordering. The window input is the already-reduced "
        "daily table (one row/day), so the single-partition window is over "
        "thousands of rows regardless of fact-table size; partition by "
        "coarser units (year) if the spine itself ever grows. All "
        "accumulation is INTEGER CENTS and the moving average is "
        "rounded IN INTEGER SPACE: ma7_cents = (2*sum + cnt) div "
        "(2*cnt), i.e. round-half-up as pure integer arithmetic. The "
        "sf0.001 sweep surfaced the full hazard ladder here — a double "
        "sum flips cents on partial-sum order; Spark's avg() over "
        "longs accumulates in double anyway; and when the true mean "
        "lands on an exact half-cent (319288.975), Spark's round "
        "(shortest-decimal-repr, HALF_UP) and DuckDB's round (binary "
        "value, rounds DOWN — the stored double is ...97499…) disagree "
        "by a cent. Integer rounding makes the tie-break identical by "
        "construction; the final /100.0 divides identical longs."
    ),
    tags=("window", "timeseries"),
)
def window_moving_avg_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            # try_cast: a NaN/Inf price (present in any real 100 TB fact
            # table somewhere) quantizes to NULL — skipped by sum — not
            # an ANSI CAST_OVERFLOW that kills the job. Identical to
            # cast() for every finite price.
            F.sum(
                F.round(F.col("o_totalprice") * 100).try_cast("long")
            ).alias("cents")
        )
    )
    day_num = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    # constant-key global window: input is the daily aggregate series
    # (bounded by calendar span), never the order fact table
    w = W.partitionBy(const_key("d")).orderBy(day_num).rangeBetween(-6, 0)
    framed = daily.withColumn("ws", F.sum("cents").over(w)).withColumn(
        "wc", F.count("*").over(w)
    )
    return (
        framed.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            (F.expr("(2 * ws + wc) div (2 * wc)") / 100.0).alias("ma7"),
        )
        .orderBy("day")
    )


@register(
    "tpch_q10_returned_revenue_by_customer",
    oracle="""
        SELECT c_custkey, n_name AS nation,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
    """,
    doc=(
        "TPC-H Q10 shape (returned-item report): 4-way join with the "
        "returnflag filter pushed into the fact scan, dims broadcast, one "
        "aggregation shuffle, top-20."
    ),
    tags=("join", "agg", "tpch"),
)
def tpch_q10_returned_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # lineitem ⋈ orders is fact-fact: shuffle on orderkey (never broadcast
    # a fact side — at 100 TB it cannot fit); customer/nation are dims.
    return (
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "lost_revenue"
            )
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "parttype_revenue_share",
    oracle="""
        WITH rev AS (
            SELECT p_type, sum(l_extendedprice * (1 - l_discount)) AS r
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_type
        )
        SELECT p_type, round(r, 2) AS revenue,
               round(100.0 * r / sum(r) OVER (), 4) AS pct_share
        FROM rev
        ORDER BY p_type
    """,
    doc=(
        "TPC-H Q14-style share-of-total: revenue per part type with "
        "percent-of-total via an empty-frame window over the tiny reduced "
        "aggregate (the window input is |distinct types| rows, never the "
        "fact table)."
    ),
    tags=("join", "agg", "window"),
)
def parttype_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    rev = (
        lineitem.join(part.select("p_partkey", "p_type"),
                      F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    total = rev.agg(F.sum("r").alias("tot"))
    # share-of-total via broadcast 1-row cross-join (not an empty-frame
    # window, which would single-partition the group set)
    return (
        rev.crossJoin(F.broadcast(total))
        .select(
            "p_type",
            F.round("r", 2).alias("revenue"),
            F.round(100.0 * F.col("r") / F.col("tot"), 4).alias("pct_share"),
        )
        .orderBy("p_type")
    )


@register(
    "hof_embedding_norms",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               round(sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * x))), 4) AS l2_norm
        FROM embeddings
        ORDER BY vec_id
        LIMIT 200
    """,
    doc=(
        "Higher-order array functions (aggregate/lambda) on the embedding "
        "column: per-row L2 norm computed entirely JVM-side — no UDF, no "
        "Python, vectorizes over array<float> at any scale."
    ),
    tags=("array", "function", "similarity"),
)
def hof_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x,
    )
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc=(
        "TPC-H Q6 shape (forecasting revenue change): pure scan-filter-"
        "aggregate with every predicate pushed to the parquet scan "
        "(range + between + less-than all appear in PushedFilters) — the "
        "canonical test that the fast path IS the scan."
    ),
    tags=("scan", "agg", "tpch"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "events_multigrain_rollup",
    oracle="""
        SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
               coalesce(strftime(date_trunc('month', ts), '%Y-%m'), 'ALL') AS month,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS (
            (date_trunc('day', ts), date_trunc('month', ts), event_type),
            (date_trunc('month', ts), event_type),
            (event_type)
        )
        ORDER BY day, month, event_type
    """,
    doc=(
        "Multi-granularity time rollup (the continuous-aggregate / "
        "hypertable-rollup shape): day, month, and grand totals per event "
        "type in ONE pass via GROUPING SETS over date_trunc buckets — "
        "Spark computes the shared partial aggregates once and expands, "
        "instead of three scans."
    ),
    tags=("events", "agg", "timeseries"),
)
def events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ev.select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("mo"),
        "event_type",
        "value",
    ).createOrReplaceTempView("_mg_events")
    return ev.sparkSession.sql(
        """
        SELECT coalesce(date_format(d, 'yyyy-MM-dd'), 'ALL') AS day,
               coalesce(date_format(mo, 'yyyy-MM'), 'ALL') AS month,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM _mg_events
        GROUP BY GROUPING SETS ((d, mo, event_type), (mo, event_type), (event_type))
        ORDER BY day, month, event_type
        """
    )


@register(
    "tpch_q13_customer_order_histogram",
    oracle="""
        SELECT n_orders, count(*) AS n_customers
        FROM (
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        )
        GROUP BY n_orders
        ORDER BY n_customers DESC, n_orders
    """,
    doc=(
        "TPC-H Q13 shape (customer distribution): left outer join keeps "
        "zero-order customers, then a double aggregation folds the "
        "per-customer counts into a histogram — two shuffles, the second "
        "over |distinct counts| rows."
    ),
    tags=("join", "agg", "tpch"),
)
def tpch_q13_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), "n_orders")
    )


@register(
    "tpch_q7_nation_trade_volume",
    oracle="""
        SELECT cn.n_name AS cust_nation,
               sn.n_name AS supp_nation,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)))
                    AS DOUBLE) AS volume,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_name < sn.n_name
        GROUP BY cn.n_name, sn.n_name
        ORDER BY volume DESC, cust_nation, supp_nation
        LIMIT 25
    """,
    doc=(
        "TPC-H Q7 shape (trade volume between nation pairs): a role-"
        "playing dimension — nation joined TWICE under different roles "
        "(customer's vs supplier's), both broadcast; the fact-fact "
        "lineitem-orders join is the only real shuffle."
    ),
    tags=("join", "agg", "tpch"),
)
def tpch_q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            # decimal sum: associative-exact, so the total is identical
            # across engines/partitionings — a rounded double sum can
            # straddle the rounding boundary by one ulp of ordering.
            # Output is cast to double AFTER the exact sum: the driver
            # canonicalizes Spark Decimal vs DuckDB float64 differently
            # (round-1 hash_match:false was purely representational).
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).cast("double").alias("volume"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("volume").desc(), "cust_nation", "supp_nation")
        .limit(25)
    )


@register(
    "tpch_q18_large_volume_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        )
        SELECT c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               round(o_totalprice, 2) AS totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY totalprice DESC, o_orderkey
        LIMIT 20
    """,
    doc=(
        "TPC-H Q18 shape (large-volume customers): a HAVING-filtered "
        "aggregate reused as a semi-join filter on the fact table — the "
        "filter side reduces to qualifying orderkeys (small) and "
        "broadcast-semi-joins back, so the fact table is scanned twice "
        "but shuffled once."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        lineitem.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
        WITH part_avg AS (
            SELECT l_partkey, avg(l_quantity) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
        WHERE p_brand = 'Brand#2'
          AND l_quantity < 0.2 * avg_qty
    """,
    doc=(
        "TPC-H Q17 shape (small-quantity-order revenue): correlated "
        "per-part average decorrelated into a pre-aggregated join — the "
        "per-group scalar subquery becomes one small aggregate joined "
        "back, evaluated once per part instead of once per row."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    part_avg = lineitem.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        lineitem.join(F.broadcast(part.select("p_partkey")),
                      lineitem.l_partkey == F.col("p_partkey"))
        .join(part_avg, lineitem.l_partkey == F.col("pa_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Cogrouped-map applyInPandas: two-table grouped kernel
# ---------------------------------------------------------------------------


@register(
    "cogroup_fulfillment_pandas",
    oracle="""
        WITH per_order AS (
            SELECT o.o_orderkey,
                   CAST(count(l.l_orderkey) AS BIGINT) AS n_items,
                   CAST(coalesce(
                       max(date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE))), -1)
                       AS BIGINT) AS max_delay_days
            FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate
        )
        SELECT max_delay_days,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(n_items) AS BIGINT) AS n_items
        FROM per_order
        GROUP BY max_delay_days
        ORDER BY max_delay_days
    """,
    doc=(
        "Cogrouped-map Pandas kernel (groupBy(...).cogroup(...)."
        "applyInPandas — the two-table sibling of the grouped-map "
        "entry): orders and lineitems are co-partitioned and each "
        "(order-batch, lineitem-batch) pair reaches one Arrow-fed "
        "pandas kernel that computes per-order fulfillment lag (days "
        "from order date to the LAST ship date; -1 for orders with no "
        "lineitems or no defined dates). CRITICAL scale lesson, "
        "measured: cogrouping on the raw order key invokes the Python "
        "kernel once per ORDER (~2.4 ms/group of per-call overhead — "
        "44 s at sf0.1, the slowest entry in the catalog, and "
        "near-flat vs sf0.01 because overhead, not data, dominates). "
        "The production shape coGROUPS ON A KEY BUCKET "
        "(pmod(hash(key), B)) and vectorizes per-key logic INSIDE the "
        "kernel with pandas groupby/merge: same co-partitioned "
        "shuffle, same per-key semantics, ~B kernel calls instead of "
        "|orders| (measured 44 s -> ~2 s at sf0.1); at 100 TB, B "
        "scales with cluster parallelism while each call stays "
        "Arrow-batch sized. Use the raw-key form only when per-key "
        "state genuinely cannot be vectorized — and the oracle shows "
        "this kernel IS expressible as a join+agg, which is why the "
        "entry exists as API-surface parity, not the recommended "
        "plan. Cites reference dags/ETL.py:96-102 (row-wise "
        "per-record transform loop) as the semantics being "
        "re-expressed group-wise."
    ),
    tags=("join", "pandas", "api"),
)
def cogroup_fulfillment_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # Scales with the cluster (see events_user_gap_median_pandas): each
    # cogroup kernel call gets ~1/n_buckets of BOTH sides as pandas
    # frames, so the bucket count must grow with data/parallelism to
    # keep per-call frames Arrow-batch-sized; floor 64 guards tiny
    # sessions (local[1]). Semantics-free by construction — both
    # sides bucket by the same join key.
    n_buckets = max(64, spark.sparkContext.defaultParallelism * 4)

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    ).withColumn("bk", F.pmod(F.hash("o_orderkey"), F.lit(n_buckets)))
    lines = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    ).withColumn("bk", F.pmod(F.hash("l_orderkey"), F.lit(n_buckets)))

    def fulfil(key, odf: "pd.DataFrame", ldf: "pd.DataFrame") -> "pd.DataFrame":
        # Vectorized per-key logic over one BUCKET of orders: pandas
        # groupby/merge inside the kernel, never a per-order Python
        # call. Orders with no lineitems survive the left merge; a NULL
        # order date or no non-NULL ship date leaves the lag undefined
        # (-1), matching the oracle's coalesce(max(date_diff(...)), -1)
        # — and NaT never reaches raw date arithmetic (poison-tested).
        if odf.empty:
            return pd.DataFrame(
                {
                    "o_orderkey": pd.Series(dtype="int64"),
                    "n_items": pd.Series(dtype="int64"),
                    "max_delay_days": pd.Series(dtype="int64"),
                }
            )
        # Nullable Int64, not int64: a NULL order key arrives from Arrow
        # as float64-with-NaN and .astype('int64') would abort the task
        # — the oracle keeps the NULL-key group (its LEFT JOIN matches
        # nothing: 0 items, -1 delay), so must we. NULL-key lineitems
        # can match no order and are dropped, as the join drops them.
        out = pd.DataFrame(
            {
                "o_orderkey": odf["o_orderkey"].astype("Int64"),
                "od": pd.to_datetime(odf["od"]),
            }
        )
        ldf = ldf.dropna(subset=["l_orderkey"])
        if ldf.empty:
            out["n_items"] = 0
            out["max_delay_days"] = -1
            return out[["o_orderkey", "n_items", "max_delay_days"]]
        li = pd.DataFrame(
            {"k": ldf["l_orderkey"].astype("int64"), "sd": pd.to_datetime(ldf["sd"])}
        )
        grp = li.groupby("k")
        agg = pd.DataFrame({"n": grp.size(), "sd_max": grp["sd"].max()})
        m = out.merge(agg, left_on="o_orderkey", right_index=True, how="left")
        delay = (m["sd_max"] - m["od"]).dt.days
        defined = m["od"].notna() & m["sd_max"].notna()
        return pd.DataFrame(
            {
                "o_orderkey": m["o_orderkey"],
                "n_items": m["n"].fillna(0).astype("int64"),
                "max_delay_days": delay.where(defined, -1).astype("int64"),
            }
        )

    per_order = (
        orders.groupBy("bk")
        .cogroup(lines.groupBy("bk"))
        .applyInPandas(
            fulfil, schema="o_orderkey long, n_items long, max_delay_days long"
        )
    )
    return (
        per_order.groupBy("max_delay_days")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("n_items").cast("long").alias("n_items"),
        )
        .orderBy("max_delay_days")
    )
