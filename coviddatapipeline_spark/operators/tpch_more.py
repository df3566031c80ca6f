"""Round-2 join topologies (VERDICT r01 fix #8 / NEXT.md #2-3).

``tpch_q2_min_cost_supplier`` — the TPC-H Q2 shape: an argmin JOIN-BACK
topology (aggregate a min per group, then equi-join the detail rows on
(group, min) to recover the winning row) over a partsupp relation the
testdata lacks, derived deterministically dbgen-style (4 suppliers per
part) so Spark and DuckDB build bit-identical inputs from the same
tables.

``skew_salted_join_agg`` — a deliberately skewed fact key (~75% of
lineitem collapses onto one key) joined to a tiny dim and aggregated,
implemented with explicit JOIN SALTING: the dim side is replicated per
salt value, the fact side picks a deterministic salt, so the hot key's
rows spread across SALT_BUCKETS shuffle partitions instead of one. The
oracle is the unsalted SQL — salting must be semantically invisible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coviddatapipeline_spark.operators.common import t
from coviddatapipeline_spark.queries.catalog import register


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: each part gets 4 suppliers spread across
    the supplier key space, (p_partkey + i*(M div 4)) mod M for i in
    0..3 (the dbgen assignment shape), with an integer supply cost in
    cents that is a pure function of (partkey, suppkey). No cartesian:
    the 4-way fan-out is an explode over a literal sequence, the
    supplier count M arrives as a broadcast 1-row aggregate."""
    part = t(spark, sf_dir, "part")
    supplier = t(spark, sf_dir, "supplier")
    m = supplier.agg(F.count("*").cast("long").alias("m"))
    return (
        part.select("p_partkey")
        .crossJoin(F.broadcast(m))
        .select(
            "p_partkey",
            F.explode(
                F.expr("transform(sequence(0, 3), i -> (p_partkey + i * (m div 4)) % m)")
            ).alias("s_suppkey"),
        )
        .withColumn(
            "cost_cents",
            (F.col("p_partkey") * 31 + F.col("s_suppkey") * 17) % 9000 + 1000,
        )
    )


_PARTSUPP_SQL = """
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM supplier),
        ps AS (
            SELECT p_partkey,
                   ((p_partkey + i * (m // 4)) % m) AS s_suppkey,
                   ((p_partkey * 31 + ((p_partkey + i * (m // 4)) % m) * 17) % 9000
                    + 1000) AS cost_cents
            FROM part, m, unnest(generate_series(0, 3)) AS u(i)
        )
"""


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        eps AS (
            SELECT ps.p_partkey, ps.cost_cents, eu.s_name, eu.s_acctbal, eu.n_name
            FROM ps JOIN eu USING (s_suppkey)
            WHERE ps.p_partkey % 5 = 0
        ),
        mc AS (SELECT p_partkey, min(cost_cents) AS min_cents
               FROM eps GROUP BY p_partkey)
        SELECT e.p_partkey, e.s_name AS supplier, e.n_name AS nation,
               round(e.s_acctbal, 2) AS acctbal,
               round(e.cost_cents / 100.0, 2) AS cost
        FROM eps e
        JOIN mc ON e.p_partkey = mc.p_partkey AND e.cost_cents = mc.min_cents
        ORDER BY acctbal DESC, e.p_partkey
        LIMIT 100
    """,
    doc=(
        "TPC-H Q2 shape: cheapest EUROPE supplier per (filtered) part — "
        "the argmin JOIN-BACK topology: per-part min over the region-"
        "restricted partsupp, equi-joined back on (p_partkey, cost) to "
        "recover the winning supplier row. Constant dims (nation, "
        "region) broadcast; the min aggregate is map-side combinable; "
        "the join-back is an equi-join on the already-reduced key set. "
        "Cost is integer cents, so the min and the join-back equality "
        "are exact on both engines (no float argmin hazard)."
    ),
    tags=("join", "agg", "argmax", "tpch"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    eu = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eps = (
        _partsupp(spark, sf_dir)
        .filter(F.col("p_partkey") % 5 == 0)
        .join(eu, "s_suppkey")
        .select("p_partkey", "cost_cents", "s_name", "s_acctbal", "n_name")
    )
    mc = (
        eps.groupBy("p_partkey")
        .agg(F.min("cost_cents").alias("min_cents"))
        .select(F.col("p_partkey").alias("mc_partkey"), "min_cents")
    )
    return (
        eps.join(
            mc,
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("cost_cents") == F.col("min_cents")),
        )
        .select(
            "p_partkey",
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round(F.col("cost_cents") / 100.0, 2).alias("cost"),
        )
        .orderBy(F.col("acctbal").desc(), "p_partkey")
        .limit(100)
    )


# Salt fan-out for the skewed join: the hot key's rows spread over this
# many shuffle buckets. Sized to the test box's parallelism; at cluster
# scale set ≈ 2-4× the executor-core count handling the hot key.
SALT_BUCKETS = 8


@register(
    "skew_salted_join_agg",
    oracle="""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 4 < 3 THEN 0
                        ELSE l_partkey % 100 END AS sk,
                   l_quantity
            FROM lineitem
        ),
        dim AS (
            SELECT i AS sk, 1.0 + (i % 7) * 0.5 AS weight
            FROM unnest(generate_series(0, 99)) AS u(i)
        )
        SELECT f.sk, count(*) AS n,
               -- The isfinite CASE mirrors Spark's cast(double AS
               -- decimal): NULL on NaN (skipped by sum); DuckDB's CAST —
               -- even TRY_CAST — raises on NaN. No-op on finite data.
               round(CAST(sum(CASE WHEN isfinite(f.l_quantity * d.weight)
                                   THEN CAST(f.l_quantity * d.weight
                                             AS DECIMAL(18, 4))
                              END) AS DOUBLE), 2) AS weighted_qty
        FROM fact f JOIN dim d USING (sk)
        GROUP BY f.sk
        ORDER BY f.sk
    """,
    doc=(
        "Skewed-key join + aggregate with EXPLICIT SALTING: ~75% of the "
        "fact lands on key 0 (a worst-case hot key); the dim side is "
        "replicated once per salt bucket and the fact side derives a "
        "deterministic salt, so the hot key occupies SALT_BUCKETS "
        "shuffle partitions instead of one straggler task. The oracle "
        "is the plain unsalted join — salting must not change a single "
        "output value. (AQE skew-join handles the sort-merge case "
        "adaptively; explicit salt is the strategy that also covers "
        "aggregation skew and pre-AQE engines.)"
    ),
    tags=("join", "agg", "skew"),
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 < 3, F.lit(0))
        .otherwise(F.col("l_partkey") % 100)
        .cast("long")
        .alias("sk"),
        "l_quantity",
        # deterministic, uniformly spread salt (not rand(): replays and
        # retries must route a row to the same bucket); pmod for the
        # non-negative bucket in one expression
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
        .cast("int")
        .alias("salt"),
    )
    # dim × salt replication as ONE range (no nested-loop cross join in
    # the plan, even a tiny one): row id encodes (sk, salt).
    dim = spark.range(100 * SALT_BUCKETS).select(
        F.expr(f"id div {SALT_BUCKETS}").alias("sk"),
        (F.col("id") % SALT_BUCKETS).cast("int").alias("salt"),
        (1.0 + (F.expr(f"id div {SALT_BUCKETS}") % 7) * 0.5).alias("weight"),
    )
    return (
        fact.join(dim, ["sk", "salt"])
        .groupBy("sk")
        .agg(
            F.count("*").alias("n"),
            # decimal sum: exact regardless of partial-sum order, so the
            # rounded value can't straddle a boundary across engines
            F.round(
                F.sum(
                    (F.col("l_quantity") * F.col("weight")).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias(
                "weighted_qty"
            ),
        )
        .orderBy("sk")
    )


@register(
    "tpch_q8_market_share",
    oracle="""
        WITH flat AS (
            SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4))
                       AS volume,
                   sn.n_name AS supp_nation
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN part     ON l_partkey = p_partkey
            WHERE r_name = 'ASIA'
              AND p_type = 'PROMO'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
        )
        SELECT yr,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                                   ELSE CAST(0 AS DECIMAL(18, 4)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
               round(CAST(sum(volume) AS DOUBLE), 2) AS total_volume
        FROM flat
        GROUP BY yr
        ORDER BY yr
    """,
    doc=(
        "TPC-H Q8 shape (national market share): the widest join "
        "topology in the catalog — lineitem fanning out to orders→"
        "customer→nation→region (demand side), supplier→nation (supply "
        "side), and part (product filter), then a conditional-share "
        "aggregate per year. Constant dims (nation, region) broadcast; "
        "part/customer/supplier are SF-scaled and left to AQE; the "
        "selective p_type + date predicates push into the scans, "
        "shrinking the fact before any shuffle. Volume sums as DECIMAL "
        "(associative-exact, so the rounded share can't straddle a "
        "boundary by partial-sum order — the q7 lesson), cast to double "
        "only at output."
    ),
    tags=("join", "agg", "tpch"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    flat = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("cn_rkey") == F.col("r_regionkey"))
        .join(supplier.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .select(
            F.year("o_orderdate").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
            .alias("volume"),
            "supp_nation",
        )
    )
    zero_dec = F.lit(0).cast("decimal(18,4)")
    return (
        flat.groupBy("yr")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("volume"))
                    .otherwise(zero_dec)
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum("volume").cast("double"), 2).alias("total_volume"),
        )
        .orderBy("yr")
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey AS suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4)))
                       AS total
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(total AS DOUBLE) AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = suppkey
        WHERE total = (SELECT max(total) FROM rev)
        ORDER BY s_suppkey
    """,
    doc=(
        "TPC-H Q15 shape (revenue view + scalar max + join-back): the "
        "quarter's per-supplier revenue aggregated once, its max folded "
        "back as a broadcast 1-row cross-join predicate — Catalyst's "
        "decorrelated form of `WHERE total = (SELECT max(...))`. Revenue "
        "is summed as DECIMAL so the max-equality is exact on both "
        "engines (a double sum could tie-break differently per "
        "partial-sum order); output cast to double for the driver hash."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("total")
        )
    )
    mx = rev.agg(F.max("total").alias("max_total"))
    return (
        supplier.join(rev, supplier.s_suppkey == rev.suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("max_total"))
        .select(
            "s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q20_excess_stock_suppliers",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        avail AS (
            SELECT p_partkey, s_suppkey,
                   ((p_partkey * 7 + s_suppkey * 11) % 1000 + 1) AS availqty
            FROM ps
        ),
        shipped AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ),
        excess AS (
            SELECT DISTINCT a.s_suppkey
            FROM avail a JOIN shipped sh
              ON a.p_partkey = sh.l_partkey AND a.s_suppkey = sh.l_suppkey
            WHERE a.availqty > 0.5 * sh.qty
        )
        SELECT s_suppkey, s_name, n_name AS nation
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (SELECT s_suppkey FROM excess)
        ORDER BY s_suppkey
        LIMIT 20
    """,
    doc=(
        "TPC-H Q20 shape (nested semi-join chain): suppliers holding "
        "excess stock — availqty above half the year's shipped quantity "
        "for some part they supply. The correlated `availqty > 0.5 * "
        "(SELECT sum(...))` decorrelates into a pre-aggregated shipped "
        "table equi-joined to partsupp, collapsed to a distinct supplier "
        "set, then a LEFT SEMI join filters supplier — no per-row "
        "re-scan, every step partial-aggregatable."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    avail = _partsupp(spark, sf_dir).select(
        "p_partkey",
        "s_suppkey",
        ((F.col("p_partkey") * 7 + F.col("s_suppkey") * 11) % 1000 + 1).alias(
            "availqty"
        ),
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    excess = (
        avail.join(
            shipped,
            (avail.p_partkey == shipped.l_partkey)
            & (avail.s_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("availqty") > 0.5 * F.col("qty"))
        .select("s_suppkey")
        .distinct()
    )
    return (
        supplier.join(excess, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
        .limit(20)
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
        WITH flat AS (
            SELECT l_orderkey, l_suppkey,
                   CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
            FROM flat GROUP BY l_orderkey
        ),
        waiting AS (
            SELECT f.l_suppkey
            FROM flat f JOIN per_order p ON f.l_orderkey = p.l_orderkey
            WHERE f.late = 1 AND p.n_supp > 1 AND p.n_late = 1
        )
        SELECT s_name, count(*) AS numwait
        FROM waiting JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    doc=(
        "TPC-H Q21 shape (EXISTS + NOT EXISTS self-joins on the fact): "
        "suppliers who alone held up multi-supplier finalized orders "
        "(lateness := shipped >90 days after order date — the testdata "
        "carries no commit/receipt dates). The two correlated EXISTS "
        "subqueries decorrelate into ONE per-order aggregate (distinct "
        "supplier count, distinct late-supplier count) joined back — "
        "two passes over the fact instead of four correlated re-scans."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = t(spark, sf_dir, "supplier")
    flat = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("late"),
        )
    )
    per_order = flat.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late"),
    )
    waiting = (
        flat.filter(F.col("late") == 1)
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
              "l_orderkey")
        .select("l_suppkey")
    )
    return (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
        WITH {_PARTSUPP_SQL},
        val AS (
            SELECT p_partkey,
                   CAST(sum(cost_cents * ((p_partkey * 7 + s_suppkey * 11) % 1000 + 1))
                        AS BIGINT) AS part_value
            FROM ps
            GROUP BY p_partkey
        ),
        tot AS (SELECT sum(part_value) AS total_value FROM val)
        SELECT p_partkey, part_value
        FROM val, tot
        WHERE part_value > 0.0005 * total_value
        ORDER BY part_value DESC, p_partkey
        LIMIT 50
    """,
    doc=(
        "TPC-H Q11 shape (important stock: HAVING against a scalar "
        "fraction of the global total): per-part inventory value over "
        "the derived partsupp, filtered by a threshold that is itself "
        "an aggregate of the same relation — the grand total folds back "
        "as a broadcast 1-row cross-join, the repo's uniform scalar-"
        "subquery shape. Integer cents arithmetic end-to-end: the "
        "threshold comparison is exact on both engines."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir).withColumn(
        "availqty", (F.col("p_partkey") * 7 + F.col("s_suppkey") * 11) % 1000 + 1
    )
    val = ps.groupBy("p_partkey").agg(
        F.sum(F.col("cost_cents") * F.col("availqty")).alias("part_value")
    )
    tot = val.agg(F.sum("part_value").alias("total_value"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 0.0005 * F.col("total_value"))
        .select("p_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
        .limit(50)
    )


@register(
    "tpch_q16_supplier_count_by_part",
    oracle="""
        WITH complaints AS (
            SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0
        ),
        ok_supp AS (
            SELECT s_suppkey FROM supplier
            WHERE s_suppkey NOT IN (SELECT s_suppkey FROM complaints)
        ),
        ps AS (
            SELECT DISTINCT l_partkey AS p_key, l_suppkey AS s_key
            FROM lineitem
        )
        SELECT p_brand, p_size,
               count(DISTINCT s_key) AS supplier_cnt
        FROM ps
        JOIN part ON p_key = p_partkey
        JOIN ok_supp ON s_key = s_suppkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20, 25, 30)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
    doc=(
        "TPC-H Q16 shape (NOT IN exclusion + COUNT DISTINCT rollup): "
        "supplier variety per (brand, size), excluding a complaints "
        "blacklist. The NOT IN decorrelates to a LEFT ANTI join (the "
        "blacklist is tiny — broadcast); the observed part-supplier "
        "relation comes from DISTINCT over lineitem (partial-"
        "aggregatable); COUNT DISTINCT shuffles once on the group key."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    supplier = t(spark, sf_dir, "supplier")
    complaints = supplier.filter(F.col("s_suppkey") % 13 == 0).select("s_suppkey")
    ok_supp = supplier.select("s_suppkey").join(
        F.broadcast(complaints), "s_suppkey", "left_anti"
    )
    ps = li.select(
        F.col("l_partkey").alias("p_key"), F.col("l_suppkey").alias("s_key")
    ).distinct()
    return (
        ps.join(
            part.filter(
                (F.col("p_brand") != "Brand#1")
                & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
            ).select("p_partkey", "p_brand", "p_size"),
            ps.p_key == F.col("p_partkey"),
        )
        .join(ok_supp, ps.s_key == F.col("s_suppkey"), "left_semi")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("s_key").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
        ),
        rich_idle AS (
            SELECT c_custkey, c_nationkey, c_acctbal
            FROM customer, avg_bal
            WHERE c_acctbal > ab
              AND c_custkey NOT IN (SELECT o_custkey FROM orders)
        )
        SELECT c_nationkey % 5 AS cntry_group,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM rich_idle
        GROUP BY 1
        ORDER BY 1
    """,
    doc=(
        "TPC-H Q22 shape (anti-join + conditional-average scalar): "
        "above-average-balance customers with NO orders — the positive-"
        "balance average folds back as a broadcast scalar, the NOT IN "
        "over orders decorrelates to a LEFT ANTI join against the "
        "distinct buyer set (reduced before the join, never row-by-row "
        "EXISTS probing)."
    ),
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    buyers = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    rich_idle = (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(buyers, "c_custkey", "left_anti")
    )
    return (
        rich_idle.select(
            (F.col("c_nationkey") % 5).cast("long").alias("cntry_group"),
            "c_acctbal",
        )
        .groupBy("cntry_group")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntry_group")
    )


# ---------------------------------------------------------------------------
# Grouped OLS: monthly revenue trend per nation
# ---------------------------------------------------------------------------


@register(
    "nation_revenue_trend_grouped_ols",
    oracle="""
        WITH monthly AS (
            SELECT n.n_name AS nation,
                   (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS m,
                   CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                       * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            GROUP BY nation, m
        ),
        indexed AS (
            SELECT nation, cents,
                   m - min(m) OVER (PARTITION BY nation) AS x
            FROM monthly
        ),
        sums AS (
            SELECT nation,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(cents) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(x * cents) AS BIGINT) AS sxy
            FROM indexed GROUP BY nation
        )
        SELECT nation, n AS n_months, sy AS total_cents,
               CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
                    * (abs(n * sxy - sx * sy) * 100
                       // (n * sxx - sx * sx)) AS BIGINT)
                   AS slope_cents_per_month_e2
        FROM sums
        WHERE n >= 2
        ORDER BY nation
    """,
    doc=(
        "Grouped ordinary least squares — the per-key variant of the "
        "global trend entry: monthly revenue per nation (exact integer "
        "cents via floor(x*100+0.5) per lineitem) regressed on the "
        "month index, slope reported at e2 cents/month with the "
        "sign-explicit truncating division. ONE pass: the power sums "
        "(n, Sx, Sy, Sxx, Sxy) are a combinable per-nation aggregate, "
        "so fitting 10 million per-key trend lines costs the same "
        "shuffle as counting per key — the map-side-reducible form of "
        "regression that replaces per-group Python model loops at "
        "scale (contrast: the applyInPandas entries, which exist for "
        "logic that genuinely cannot reduce). Slope magnitude sits "
        "inside int64 because Sxy is bounded by months x max-monthly-"
        "cents; the month index is per-nation re-based so Sx stays "
        "small."
    ),
    tags=("tpch", "stats", "agg"),
)
def nation_revenue_trend_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("cents"),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "m")
        .agg(F.sum("cents").alias("cents"))
    )
    indexed = monthly.withColumn(
        "x", F.col("m") - F.min("m").over(_W.partitionBy("nation"))
    )
    sums = indexed.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
    )
    return (
        sums.filter(F.col("n") >= 2)
        .select(
            "nation",
            F.col("n").cast("long").alias("n_months"),
            F.col("sy").cast("long").alias("total_cents"),
            F.expr(
                "CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)"
                " * (abs(n * sxy - sx * sy) * 100"
                " DIV (n * sxx - sx * sx)) AS BIGINT)"
            ).alias("slope_cents_per_month_e2"),
        )
        .orderBy("nation")
    )
