"""Deterministic mergeable sketches: Count-Min heavy hitters and a
Bloom-filter join prefilter, both bit-identical across Spark and DuckDB.

The registry already carries the similarity sketches (MinHash, SimHash,
hyperplane LSH) and the cardinality sketches (the exact-integer HLL
below; the built-in HLL++ entry is checked via its bounded-error
contract since engine estimates differ). These two close the set with the
FREQUENCY sketch (Count-Min: the streaming heavy-hitter structure — a
fixed d x w integer grid, map-side combinable, mergeable across
micro-batches and executors) and the MEMBERSHIP sketch (Bloom: the
runtime pre-filter Spark itself injects for selective joins via
``spark.sql.optimizer.runtime.bloomFilter.enabled`` — built here
explicitly so the false-positive economics are a measured number, not a
config flag).

Cross-engine determinism: every hash is the repo's canonical
md5-prefix-to-int derivation (Spark ``conv(substr(md5(x),1,8),16,10)``
== DuckDB ``CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)``), so the
grids, bit positions, and therefore every estimate and count are exact
integers on both engines — no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coviddatapipeline_spark.operators.common import t
from coviddatapipeline_spark.queries.catalog import register

# ---------------------------------------------------------------------------
# Count-Min sketch over the events stream key (user_id)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 64  # counters per row (deliberately small so collisions are real)
CMS_TOP = 10


def _h(prefix: Column, width: int) -> Column:
    """md5-prefix hash of a pre-built string column into [0, width)."""
    return F.conv(F.substring(F.md5(prefix), 1, 8), 16, 10).cast("long") % width


_H_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT) % {w}"


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
        WITH keys AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
            FROM events GROUP BY user_id
        ),
        hashes AS (
            SELECT user_id, exact_count, j,
                   {_H_SQL.format(x="concat(CAST(j AS VARCHAR), ':', CAST(user_id AS VARCHAR))", w=CMS_WIDTH)} AS bucket
            FROM keys, (SELECT unnest([0, 1, 2, 3]) AS j)
        ),
        grid AS (
            SELECT j, bucket, CAST(sum(exact_count) AS BIGINT) AS cnt
            FROM hashes GROUP BY j, bucket
        ),
        est AS (
            SELECT h.user_id, min(g.cnt) AS cms_estimate
            FROM hashes h JOIN grid g ON g.j = h.j AND g.bucket = h.bucket
            GROUP BY h.user_id
        ),
        ranked AS (
            SELECT k.user_id, e.cms_estimate, k.exact_count,
                   e.cms_estimate - k.exact_count AS overestimate,
                   row_number() OVER (ORDER BY e.cms_estimate DESC, k.user_id) AS rank
            FROM keys k JOIN est e ON k.user_id = e.user_id
        )
        SELECT CAST(rank AS BIGINT) AS rank, user_id, cms_estimate,
               exact_count, overestimate
        FROM ranked WHERE rank <= {CMS_TOP}
        ORDER BY rank
    """,
    doc=(
        f"Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005, "
        f"public): event counts per user_id summarized into a "
        f"{CMS_DEPTH}x{CMS_WIDTH} integer grid (bucket = md5(j:key) mod "
        f"{CMS_WIDTH}), per-key estimate = min over the {CMS_DEPTH} row "
        f"counters, top-{CMS_TOP} keys by estimate reported against their "
        f"exact counts so the collision overestimate is a checked number. "
        f"The grid is the 100 TB object: fixed {CMS_DEPTH * CMS_WIDTH} "
        f"cells, built with one map-side-combinable groupBy and mergeable "
        f"by cell-wise addition across executors, micro-batches, or days "
        f"— the frequency analogue of the mergeable corpus MinHash. The "
        f"estimate join touches the DISTINCT-key table (not the event "
        f"stream) against the broadcast-sized grid. All integer md5 "
        f"arithmetic; zero floats."
    ),
    tags=("sketch", "events", "agg"),
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    js = F.array([F.lit(j) for j in range(CMS_DEPTH)])
    hashes = keys.select(
        "user_id", "exact_count", F.explode(js).alias("j")
    ).withColumn(
        "bucket",
        _h(
            F.concat(
                F.col("j").cast("string"), F.lit(":"), F.col("user_id").cast("string")
            ),
            CMS_WIDTH,
        ),
    )
    grid = hashes.groupBy("j", "bucket").agg(F.sum("exact_count").alias("cnt"))
    est = (
        hashes.join(F.broadcast(grid), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_estimate"), F.first("exact_count").alias("exact_count"))
    )
    # constant-key global window over the CMS-pruned candidate set —
    # warning-free plan, identical semantics (retrieval.py note)
    w = W.partitionBy(
        F.pmod(F.coalesce(F.col("cms_estimate"), F.lit(0)), F.lit(1))
    ).orderBy(F.col("cms_estimate").desc(), F.col("user_id"))
    return (
        est.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= CMS_TOP)
        .select(
            "rank",
            "user_id",
            "cms_estimate",
            "exact_count",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join prefilter: build on urgent orders, probe customers
# ---------------------------------------------------------------------------

BLOOM_BITS = 2048
BLOOM_K = 3


@register(
    "bloom_join_prefilter_audit",
    oracle=f"""
        WITH build AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ),
        bits AS (
            SELECT DISTINCT
                   {_H_SQL.format(x="concat(CAST(i AS VARCHAR), '#', CAST(o_custkey AS VARCHAR))", w=BLOOM_BITS)} AS pos
            FROM build, (SELECT unnest([0, 1, 2]) AS i)
        ),
        probe AS (
            SELECT c.c_custkey, c.c_mktsegment, i,
                   {_H_SQL.format(x="concat(CAST(i AS VARCHAR), '#', CAST(c_custkey AS VARCHAR))", w=BLOOM_BITS)} AS pos
            FROM customer c, (SELECT unnest([0, 1, 2]) AS i)
        ),
        verdict AS (
            SELECT p.c_custkey, p.c_mktsegment,
                   CASE WHEN count(b.pos) = {BLOOM_K} THEN 1 ELSE 0 END AS passed
            FROM probe p LEFT JOIN bits b ON p.pos = b.pos
            GROUP BY p.c_custkey, p.c_mktsegment
        )
        SELECT v.c_mktsegment,
               CAST(count(*) AS BIGINT) AS probes,
               CAST(sum(v.passed) AS BIGINT) AS passed,
               CAST(sum(CASE WHEN bu.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_members,
               CAST(sum(CASE WHEN v.passed = 1 AND bu.o_custkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
               CAST(sum(CASE WHEN v.passed = 1 AND bu.o_custkey IS NULL
                             THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS fp_rate_e4
        FROM verdict v LEFT JOIN build bu ON v.c_custkey = bu.o_custkey
        GROUP BY v.c_mktsegment
        ORDER BY v.c_mktsegment
    """,
    doc=(
        f"Bloom-filter join prefilter, measured (Bloom 1970, public; the "
        f"structure behind Spark's runtime bloom-filter join pruning): "
        f"the urgent-order customer keys are folded into an m={BLOOM_BITS}"
        f"-bit / k={BLOOM_K}-hash filter (bit = md5(i#key) mod m, the "
        f"filter materialized as its set-bit positions — a DISTINCT over "
        f"<= k*|build| small integers, broadcastable by construction "
        f"like the real bitset), every customer is probed (member iff "
        f"all {BLOOM_K} bits set), and the verdict is joined against "
        f"exact membership to report true members, false positives, and "
        f"the e4 false-positive rate per market segment — integer "
        f"division, no floats. At 100 TB this is the shape that turns a "
        f"shuffle join into scan-side pruning: the build side collapses "
        f"to {BLOOM_BITS} bits shipped to every scan task, and the "
        f"measured fp_rate_e4 is the number that justifies (or vetoes) "
        f"the m/k sizing."
    ),
    tags=("sketch", "join", "tpch"),
)
def bloom_join_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    build = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    ks = F.array([F.lit(i) for i in range(BLOOM_K)])

    def pos(key: Column) -> Column:
        return _h(
            F.concat(F.col("i").cast("string"), F.lit("#"), key.cast("string")),
            BLOOM_BITS,
        )

    bits = (
        build.select(F.explode(ks).alias("i"), "o_custkey")
        .select(pos(F.col("o_custkey")).alias("pos"))
        .distinct()
    )
    probe = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .select("c_custkey", "c_mktsegment", F.explode(ks).alias("i"))
        .select("c_custkey", "c_mktsegment", pos(F.col("c_custkey")).alias("pos"))
    )
    matched = F.broadcast(bits.withColumn("hit", F.lit(1)))
    verdict = (
        probe.join(matched, "pos", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg((F.count("hit") == BLOOM_K).cast("int").alias("passed"))
    )
    member = F.broadcast(build.withColumn("is_member", F.lit(1)))
    joined = verdict.join(
        member, verdict.c_custkey == member.o_custkey, "left"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("probes"),
            F.sum("passed").alias("passed"),
            F.sum(F.when(F.col("is_member") == 1, 1).otherwise(0)).alias(
                "true_members"
            ),
            F.sum(
                F.when((F.col("passed") == 1) & F.col("is_member").isNull(), 1).otherwise(0)
            ).alias("false_positives"),
        )
        .withColumn(
            "fp_rate_e4",
            F.expr("CAST((false_positives * 10000) DIV probes AS BIGINT)"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# HyperLogLog with exact integer registers (oracle-backed)
# ---------------------------------------------------------------------------

HLL_M = 64  # registers (p = 6)
# alpha_64 = 0.7213 / (1 + 1.079/64) = 0.70934..., fixed at e6; the
# numerator constant below is ALPHA_E6 * m^2 = 709341 * 4096.
HLL_ALPHA_M2_E6 = 709341 * HLL_M * HLL_M
# 32-bit md5 hash: low 6 bits pick the register, the remaining 26 bits
# feed rho; an all-zero remainder scores rho = 27 (= 26 + 1).
HLL_RHO_ZERO = 27


@register(
    "sketch_hll_cardinality",
    oracle=f"""
        WITH hashed AS (
            -- The NULL-key CASE mirrors Spark's conv(md5(NULL)) = NULL
            -- chain: DuckDB's concat SKIPS a NULL argument, so a NULL
            -- key would otherwise yield the unparseable literal '0x'
            -- and crash the BIGINT cast. No-op on non-NULL keys.
            SELECT o_orderpriority AS grp,
                   CASE WHEN o_custkey IS NULL THEN NULL
                        ELSE CAST(concat('0x',
                                         substr(md5(CAST(o_custkey AS VARCHAR)),
                                                1, 8)) AS BIGINT) END AS h
            FROM orders
        ),
        rho AS (
            SELECT grp, h % {HLL_M} AS bucket,
                   CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_ZERO}
                        ELSE {HLL_RHO_ZERO} - length(printf('%b', h // {HLL_M}))
                   END AS rho
            FROM hashed
        ),
        regs AS (
            SELECT grp, bucket, max(rho) AS m_j FROM rho GROUP BY grp, bucket
        ),
        regs_all AS (
            SELECT * FROM regs
            UNION ALL
            SELECT 'ALL' AS grp, bucket, max(m_j) AS m_j FROM regs GROUP BY bucket
        ),
        rmax AS (SELECT grp, max(m_j) AS r_max FROM regs_all GROUP BY grp),
        agg AS (
            SELECT r.grp, x.r_max, count(*) AS nonzero,
                   CAST(sum(CAST(1 AS BIGINT) << (x.r_max - r.m_j)) AS BIGINT)
                       AS present_sum
            FROM regs_all r JOIN rmax x ON r.grp = x.grp
            GROUP BY r.grp, x.r_max
        ),
        scaled AS (
            SELECT grp, r_max, nonzero,
                   present_sum
                   + ({HLL_M} - nonzero) * (CAST(1 AS BIGINT) << r_max)
                       AS sum_scaled
            FROM agg
        ),
        est AS (
            SELECT grp, r_max, nonzero, sum_scaled,
                   CAST(({HLL_ALPHA_M2_E6} * (CAST(1 AS BIGINT) << r_max))
                        // (sum_scaled * 1000000) AS BIGINT) AS hll_estimate
            FROM scaled
        ),
        exact AS (
            SELECT o_orderpriority AS grp,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
            FROM orders GROUP BY 1
            UNION ALL
            SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        )
        SELECT e.grp AS priority,
               CAST(s.nonzero AS BIGINT) AS nonzero_registers,
               CAST(s.r_max AS BIGINT) AS r_max,
               CAST(s.sum_scaled AS BIGINT) AS sum_scaled,
               s.hll_estimate,
               e.exact_distinct,
               CAST(abs(s.hll_estimate - e.exact_distinct) AS BIGINT) AS abs_err,
               CAST(abs(s.hll_estimate - e.exact_distinct) * 10000
                    // e.exact_distinct AS BIGINT) AS rel_err_e4
        FROM est s JOIN exact e ON s.grp = e.grp
        ORDER BY priority
    """,
    doc=(
        f"HyperLogLog cardinality with EXACT integer registers (Flajolet "
        f"et al. 2007, public): distinct customers per order priority, "
        f"plus an 'ALL' row whose registers come from MERGING the five "
        f"per-group register tables (max per bucket) — the mergeability "
        f"that makes HLL the distributed COUNT DISTINCT structure. A "
        f"32-bit md5 hash splits into a {HLL_M}-way register index and a "
        f"26-bit rho stream; registers are a map-side-combinable "
        f"groupBy-max, so the full pass over orders reduces to "
        f"groups x {HLL_M} integers with no distinct shuffle. The raw "
        f"estimate alpha*m^2/sum(2^-M_j) is computed as exact integer "
        f"arithmetic over a common denominator 2^r_max (every 2^-M_j "
        f"becomes the integer 2^(r_max-M_j), zero registers contribute "
        f"2^r_max), with alpha at e6 — no float, no libm, both engines "
        f"bit-identical. Reported against exact count(DISTINCT) with e4 "
        f"relative error, so the sketch's accuracy at this register "
        f"budget is a checked number. Complements the built-in "
        f"approx_count_distinct entry (whose engine-specific estimate "
        f"is oracle-checked via its bounded-error contract) with a "
        f"fully hash-checkable HLL."
    ),
    tags=("sketch", "agg", "tpch"),
)
def sketch_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    hashed = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    rho = hashed.select(
        "grp",
        (F.col("h") % HLL_M).alias("bucket"),
        F.when(F.expr(f"h DIV {HLL_M}") == 0, F.lit(HLL_RHO_ZERO))
        .otherwise(F.lit(HLL_RHO_ZERO) - F.length(F.bin(F.expr(f"h DIV {HLL_M}"))))
        .alias("rho"),
    )
    regs = rho.groupBy("grp", "bucket").agg(F.max("rho").alias("m_j"))
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
        .select(F.lit("ALL").alias("grp"), "bucket", "m_j")
    )
    regs_all = regs.select("grp", "bucket", "m_j").unionByName(merged)
    rmax = regs_all.groupBy("grp").agg(F.max("m_j").alias("r_max"))
    agg = (
        regs_all.join(F.broadcast(rmax), "grp")
        .groupBy("grp", "r_max")
        .agg(
            F.count("*").alias("nonzero"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), r_max - m_j)")).alias(
                "present_sum"
            ),
        )
        .withColumn(
            "sum_scaled",
            F.col("present_sum")
            + (F.lit(HLL_M) - F.col("nonzero"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), r_max)"),
        )
        .withColumn(
            "hll_estimate",
            F.expr(
                f"CAST(({HLL_ALPHA_M2_E6} * shiftleft(CAST(1 AS BIGINT), r_max))"
                f" DIV (sum_scaled * 1000000) AS BIGINT)"
            ),
        )
    )
    # OPTIMIZATION_r12 §B8 (guide §2.3): both exact sides from ONE
    # distinct-pairs pass instead of two separate countDistinct scans
    # of orders — per-group exact = count of non-null custkeys among
    # the distinct (grp, custkey) pairs, corpus exact = countDistinct
    # over the (already group-deduped) pairs. Identical exact integers,
    # one fewer full scan + dedup of the fact table.
    pairs = orders.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey").alias("ck")
    ).distinct()
    exact = (
        pairs.groupBy("grp")
        .agg(F.count("ck").alias("exact_distinct"))
        .unionByName(
            pairs.agg(F.countDistinct("ck").alias("exact_distinct")).select(
                F.lit("ALL").alias("grp"), "exact_distinct"
            )
        )
    )
    return (
        agg.join(F.broadcast(exact), "grp")
        .select(
            F.col("grp").alias("priority"),
            F.col("nonzero").cast("long").alias("nonzero_registers"),
            F.col("r_max").cast("long").alias("r_max"),
            F.col("sum_scaled").cast("long").alias("sum_scaled"),
            "hll_estimate",
            "exact_distinct",
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            .cast("long")
            .alias("abs_err"),
            F.expr(
                "CAST(abs(hll_estimate - exact_distinct) * 10000"
                " DIV exact_distinct AS BIGINT)"
            ).alias("rel_err_e4"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch SET OPERATIONS (union + intersection cardinality)
# ---------------------------------------------------------------------------

KMV_K = 64  # retained minima per sketch (rel. error ~ 1/sqrt(k-2) ~ 13%)
KMV_HEX = 15  # md5-prefix hex digits: 60-bit hash space, fits BIGINT
KMV_H = 16 ** KMV_HEX  # hash-space size 2^60
KMV_TYPES = ("click", "purchase", "view")
_KMV_A63 = str((KMV_K - 1) * KMV_H)  # (k-1)*H: > int64, exact in DECIMAL(38)
_KMV_PAIRS = (
    ("click", "purchase"),
    ("click", "view"),
    ("purchase", "view"),
)


# --- shared KMV kernels -----------------------------------------------------
# The registered set-ops entry below and the streaming distinct-count
# twin (pipeline/streaming.py::stream_kmv_distinct) share these
# verbatim, so the audited batch algebra and the ingest-path sketches
# cannot drift — the same pattern as the substring-scrub and IVF twins.


def kmv_hash(u: Column) -> Column:
    """Canonical 60-bit md5-prefix hash of a key (string-cast): the
    repo's cross-engine integer hash derivation at KMV_HEX digits."""
    return F.conv(
        F.substring(F.md5(u.cast("string")), 1, KMV_HEX), 16, 10
    ).cast("long")


def kmv_sketch(du: DataFrame) -> DataFrame:
    """(g, u) -> KMV sketch rows (g, h): the KMV_K smallest DISTINCT
    key hashes per group. One partitioned window over the distinct key
    set — the same shuffle an exact count-distinct pays; the output is
    <= k rows per group regardless of input size."""
    hashed = du.select("g", kmv_hash(F.col("u")).alias("h")).distinct()
    return (
        hashed.withColumn(
            "rn", F.row_number().over(W.partitionBy("g").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .select("g", "h")
    )


def kmv_merge(sk: DataFrame) -> DataFrame:
    """Lossless KMV union composition: distinct sketch rows per group,
    re-take the k smallest. Merging per-batch sketches equals sketching
    the union (any hash among the global k smallest survives every
    per-batch cut), and the merge is IDEMPOTENT, commutative and
    associative — duplicate deliveries of the same sketch rows are
    absorbed by the distinct, which is what makes the streaming twin's
    at-least-once append safe with no exactly-once sink."""
    dedup = sk.select("g", "h").distinct()
    return (
        dedup.withColumn(
            "rn", F.row_number().over(W.partitionBy("g").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .select("g", "h")
    )


def kmv_estimate(sk: DataFrame) -> DataFrame:
    """Sketch rows (g, h) -> (g, n_retained, est): unsaturated sketches
    (n < k) report exactly; saturated ones estimate floor((k-1)*H /
    maxh) in exact DECIMAL(38) integer arithmetic."""
    est_sql = _kmv_est_sql("maxh", duck=False)
    return (
        sk.groupBy("g")
        .agg(F.count("*").alias("n_ret"), F.max("h").alias("maxh"))
        .select(
            "g",
            F.col("n_ret").cast("long").alias("n_retained"),
            F.expr(
                f"CAST(CASE WHEN n_ret < {KMV_K} THEN n_ret"
                f" ELSE {est_sql} END AS BIGINT)"
            ).alias("est"),
        )
    )


def _kmv_est_sql(maxh: str, duck: bool) -> str:
    """Exact integer floor((k-1)*H / maxh) on either engine. The
    numerator exceeds int64, so DuckDB widens to HUGEINT and Spark uses
    the DECIMAL(38) mod-subtract division (numerator minus remainder is
    exactly divisible, so the decimal division rounds nothing — the
    round-4 ACF pattern)."""
    if duck:
        return f"CAST(CAST('{_KMV_A63}' AS HUGEINT) // {maxh} AS BIGINT)"
    a = f"CAST('{_KMV_A63}' AS DECIMAL(38, 0))"
    return f"CAST(({a} - {a} % {maxh}) / {maxh} AS BIGINT)"


def _kmv_inter_est_sql(c: str, theta: str, duck: bool) -> str:
    """Exact integer floor(C*H / theta); C <= k so C*H < 2^66."""
    if duck:
        return (
            f"CAST(CAST({c} AS HUGEINT) * CAST('{KMV_H}' AS HUGEINT)"
            f" // {theta} AS BIGINT)"
        )
    a = f"(CAST({c} AS DECIMAL(38, 0)) * CAST('{KMV_H}' AS DECIMAL(38, 0)))"
    return f"CAST(({a} - {a} % {theta}) / {theta} AS BIGINT)"


def _kmv_oracle() -> str:
    type_list = ", ".join(f"'{t_}'" for t_ in KMV_TYPES)
    est = _kmv_est_sql("s.maxh", duck=True)
    parts = [
        f"""
        SELECT s.g AS set_name, s.n_ret,
               CASE WHEN s.n_ret < {KMV_K} THEN s.n_ret ELSE {est} END AS est,
               e.exact
        FROM stats s JOIN exact_t e USING (g)"""
    ]
    for a, b in _KMV_PAIRS:
        uest = _kmv_est_sql("u.maxh", duck=True)
        parts.append(f"""
        SELECT '{a}|{b}' AS set_name, u.n_ret,
               CASE WHEN u.n_ret < {KMV_K} THEN u.n_ret ELSE {uest} END AS est,
               (SELECT count(DISTINCT du.u) FROM du
                WHERE du.g IN ('{a}', '{b}')) AS exact
        FROM (
            SELECT count(*) AS n_ret, max(h) AS maxh FROM (
                SELECT h FROM (
                    SELECT h, row_number() OVER (ORDER BY h) AS rn
                    FROM (SELECT DISTINCT h FROM sk WHERE g IN ('{a}', '{b}'))
                ) WHERE rn <= {KMV_K}
            )
        ) u""")
        iest = _kmv_inter_est_sql("i.c", "i.theta", duck=True)
        # The theta lookups are TOTAL scalar subqueries (ADVICE r07):
        # an entirely-absent event type has no thetas row, and an
        # inner `FROM thetas ta, thetas tb` cross join would then emit
        # ZERO rows for this branch while the engine's global agg
        # (coalesce over empty) still reports its c=0 row. COALESCE to
        # H mirrors the engine's coalesce-to-KMV_H unsaturated default;
        # the engine's theta additionally collapses to H whenever the
        # COMMON-hash set is empty (max over no rows), so the oracle's
        # c-vs-theta CASE mirrors that too: c=0 forces est=0 through
        # either CASE arm (0*H//theta = 0), keeping the branches
        # hash-identical. No-op whenever all three types are present.
        parts.append(f"""
        SELECT '{a}&{b}' AS set_name, i.c AS n_ret,
               CASE WHEN i.theta = CAST('{KMV_H}' AS BIGINT) THEN i.c
                    ELSE {iest} END AS est,
               (SELECT count(*) FROM (
                   SELECT u FROM du WHERE g IN ('{a}', '{b}')
                   GROUP BY u HAVING count(*) = 2
               )) AS exact
        FROM (
            SELECT least(tt.theta_a, tt.theta_b) AS theta,
                   (SELECT count(*) FROM sk ka JOIN sk kb USING (h)
                    WHERE ka.g = '{a}' AND kb.g = '{b}'
                      AND h < least(tt.theta_a, tt.theta_b)) AS c
            FROM (
                SELECT COALESCE((SELECT theta FROM thetas WHERE g = '{a}'),
                                CAST('{KMV_H}' AS BIGINT)) AS theta_a,
                       COALESCE((SELECT theta FROM thetas WHERE g = '{b}'),
                                CAST('{KMV_H}' AS BIGINT)) AS theta_b
            ) tt
        ) i""")
    body = " UNION ALL ".join(parts)
    return f"""
        WITH du AS (
            SELECT DISTINCT event_type AS g, user_id AS u FROM events
            WHERE user_id IS NOT NULL AND event_type IN ({type_list})
        ),
        hashed AS (
            SELECT DISTINCT g,
                   CAST(concat('0x', substr(md5(CAST(u AS VARCHAR)),
                                            1, {KMV_HEX})) AS BIGINT) AS h
            FROM du
        ),
        sk AS (
            SELECT g, h FROM (
                SELECT g, h,
                       row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                FROM hashed
            ) WHERE rn <= {KMV_K}
        ),
        stats AS (SELECT g, count(*) AS n_ret, max(h) AS maxh FROM sk GROUP BY g),
        thetas AS (
            SELECT g, CASE WHEN n_ret = {KMV_K} THEN maxh
                           ELSE CAST('{KMV_H}' AS BIGINT) END AS theta
            FROM stats
        ),
        exact_t AS (SELECT g, count(*) AS exact FROM du GROUP BY g)
        SELECT set_name, CAST(n_ret AS BIGINT) AS n_retained,
               CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact,
               CAST(abs(est - exact) * 10000 // exact AS BIGINT) AS err_e4
        FROM ({body})
        ORDER BY set_name
    """


@register(
    "sketch_kmv_set_ops",
    oracle=_kmv_oracle(),
    doc=(
        "KMV / theta sketch SET OPERATIONS — the distinct-count algebra "
        "HLL cannot do (Dasgupta et al. 2016 theta sketches; "
        "Bar-Yossef et al. 2002 KMV — both public): per event type, "
        f"retain the k={KMV_K} SMALLEST {4 * KMV_HEX}-bit md5-prefix "
        "hashes of the user ids; the k-th minimum theta estimates the "
        "set's density, union sketches merge by re-taking the k "
        "smallest of the union (lossless composition — the union "
        "estimate needs no rescan), and INTERSECTION cardinality falls "
        "out of counting common retained hashes below min(theta_a, "
        "theta_b). Every estimate is exact integer arithmetic on both "
        "engines ((k-1)*H and C*H exceed int64, so DuckDB widens to "
        "HUGEINT and Spark runs the DECIMAL(38) mod-subtract division "
        "— the round-4 exact-wide-integer pattern), and unsaturated "
        "sketches (n < k) report exactly, so the small-set path "
        "degrades to truth. The report emits estimate vs exact vs e4 "
        "relative error for the 3 types, 3 pairwise unions, and 3 "
        "pairwise intersections; the bounded-error contract "
        "(err <= ~3/sqrt(k-2) for saturated sets) is pinned by "
        "tests/test_sketch_kmv.py. Scale: sketches are k rows per "
        "group (one partitioned window over the DISTINCT user set — "
        "the same shuffle an exact count-distinct pays), set algebra "
        "then touches only k-row sketches, never the data: union and "
        "intersection of 100 TB key sets costs k log k. Deterministic "
        "by construction — no rand(), the hash IS the sample."
    ),
    tags=("sketch", "agg", "setops"),
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    du = (
        ev.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin(*KMV_TYPES)
        )
        .select(F.col("event_type").alias("g"), F.col("user_id").alias("u"))
        .distinct()
        .persist()
    )
    # the shared per-group sketch kernel (also the streaming twin's)
    sk = kmv_sketch(du).persist()

    est_sql = _kmv_est_sql("maxh", duck=False)

    def finish(grouped: DataFrame) -> DataFrame:
        """(set_name, n_ret, maxh) -> (set_name, n_retained, est) for
        the GLOBAL-agg union branches, whose one row must survive an
        empty input (kmv_estimate's groupBy would emit zero rows)."""
        return grouped.select(
            "set_name",
            F.col("n_ret").cast("long").alias("n_retained"),
            F.expr(
                f"CAST(CASE WHEN n_ret < {KMV_K} THEN n_ret"
                f" ELSE {est_sql} END AS BIGINT)"
            ).alias("est"),
        )

    per_type = (
        kmv_estimate(sk)
        .withColumnRenamed("g", "set_name")
        .join(
            du.groupBy(F.col("g").alias("set_name")).agg(
                F.count("*").cast("long").alias("exact")
            ),
            "set_name",
        )
    )

    thetas = sk.groupBy("g").agg(
        F.when(F.count("*") == KMV_K, F.max("h"))
        .otherwise(F.lit(KMV_H))
        .alias("theta")
    )

    rows = [per_type]
    inter_sql = _kmv_inter_est_sql("c", "theta", duck=False)
    for a, b in _KMV_PAIRS:
        uni = finish(
            # K smallest distinct hashes via distributed TakeOrdered
            # (orderBy+limit), not a global ranking window over the
            # data-proportional distinct-hash set: h is unique after
            # distinct(), so limit(K) of the ascending order IS the
            # row_number() <= K set.
            sk.filter(F.col("g").isin(a, b))
            .select("h")
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
            .agg(F.count("*").alias("n_ret"), F.max("h").alias("maxh"))
            .select(
                F.lit(f"{a}|{b}").alias("set_name"), "n_ret", "maxh"
            )
        ).crossJoin(
            du.filter(F.col("g").isin(a, b))
            .select("u")
            .distinct()
            .agg(F.count("*").cast("long").alias("exact"))
        )
        rows.append(uni)

        ta = thetas.filter(F.col("g") == a).select(
            F.col("theta").alias("theta_a")
        )
        tb = thetas.filter(F.col("g") == b).select(
            F.col("theta").alias("theta_b")
        )
        common = (
            sk.filter(F.col("g") == a)
            .select("h")
            .join(sk.filter(F.col("g") == b).select("h"), "h")
            .crossJoin(F.broadcast(ta.crossJoin(tb)))
            .select(
                "h", F.least("theta_a", "theta_b").alias("theta")
            )
        )
        # GLOBAL agg (not groupBy) so an EMPTY common-hash set still
        # yields its one report row (c=0, est=0) like the oracle's
        # scalar subqueries do.
        inter = (
            common.agg(
                F.coalesce(F.max("theta"), F.lit(KMV_H)).alias("theta"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("h") < F.col("theta"), 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("c"),
            )
            .select(
                F.lit(f"{a}&{b}").alias("set_name"),
                F.col("c").cast("long").alias("n_retained"),
                F.expr(
                    f"CAST(CASE WHEN theta = {KMV_H}L THEN c"
                    f" ELSE {inter_sql} END AS BIGINT)"
                ).alias("est"),
            )
            .crossJoin(
                du.filter(F.col("g").isin(a, b))
                .groupBy("u")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == 2)
                .agg(F.count("*").cast("long").alias("exact"))
            )
        )
        rows.append(inter)

    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # The exact=0 guard keeps err_e4 total under ANSI: an entirely-
    # absent event type yields intersection rows with exact=0, where
    # bare DIV ANSI-aborts the job (non-ANSI DIV 0 and DuckDB's //0
    # both yield NULL — the CASE pins that NULL on every conf).
    return out.select(
        "set_name",
        "n_retained",
        "est",
        "exact",
        F.expr(
            "CAST(CASE WHEN exact = 0 THEN NULL"
            " ELSE abs(est - exact) * 10000 DIV exact END AS BIGINT)"
        ).alias("err_e4"),
    ).orderBy("set_name")
