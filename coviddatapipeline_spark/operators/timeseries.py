"""Time-series analytics over the events stream: autocorrelation of
the daily activity series, an exponentially-weighted trailing smooth
of daily revenue, and per-type hour-of-day periodicity profiles.

Scale posture shared by all three: the SF-scaled events fact is
reduced FIRST by a map-side-combinable groupBy to a calendar-bounded
series (days or (type, hour) cells — cardinality grows with elapsed
time / type count, never with row count), and every subsequent step
joins or windows only that bounded series. No unpartitioned window
ever touches SF-scaled input, and the lag/trailing-window structure is
expressed as EQUI-joins on computed date keys (a scatter of each day
onto the future days it contributes to), not a BETWEEN range join —
Catalyst gets a shuffle-hash/broadcast equi-join instead of a
nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coviddatapipeline_spark.operators.common import events
from coviddatapipeline_spark.queries.catalog import register
from coviddatapipeline_spark.operators.ranking import const_key

# EWMA decay per day and trailing horizon (days). A 0.7 decay over a
# 13-day horizon carries >99% of the infinite-sum mass, so the finite
# window is a faithful EWMA while staying exactly replayable in SQL.
EWMA_DECAY = 0.7
EWMA_HORIZON = 13

AUTOCORR_LAGS = (1, 7)


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bounded daily rollup of the events fact (one shuffle,
    map-side partial aggregation; output cardinality = elapsed days)."""
    ev = events(spark, sf_dir)
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"), F.sum("value").alias("rev")
    )


@register(
    "events_daily_autocorr",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY 1
        )
        {" UNION ALL ".join(
            f'''SELECT {lag} AS lag, count(*) AS n_pairs,
                       round(corr(a.n, b.n), 6) AS autocorr
                FROM daily a JOIN daily b ON b.day = a.day - {lag}'''
            for lag in AUTOCORR_LAGS
        )}
        ORDER BY lag
    """,
    doc=(
        "Lag-1 and lag-7 (weekly) Pearson autocorrelation of the daily "
        "event-count series. The SF-scaled fact collapses to a "
        "calendar-bounded daily series first; each lag is then an "
        "equi-join of that tiny series with itself on a shifted date "
        "key (no window, no range join), feeding a corr() aggregate. "
        "Pearson corr is scale-invariant, so sample-vs-population "
        "variance conventions cancel between engines; round(,6) "
        "absorbs float-sum ordering differences."
    ),
    tags=("events", "timeseries", "agg"),
)
def events_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir).select("day", "n")
    parts = []
    for lag in AUTOCORR_LAGS:
        a = daily.alias("a")
        b = daily.alias("b")
        joined = a.join(b, F.col("b.day") == F.date_sub(F.col("a.day"), lag))
        parts.append(
            joined.agg(
                F.lit(lag).alias("lag"),
                F.count("*").alias("n_pairs"),
                F.round(F.corr("a.n", "b.n"), 6).alias("autocorr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("lag")


@register(
    "events_ewma_daily_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, sum(value) AS rev
            FROM events GROUP BY 1
        ),
        scattered AS (
            SELECT day + CAST(u.k AS INTEGER) AS target_day,
                   rev * pow({EWMA_DECAY}, u.k) AS wrev,
                   pow({EWMA_DECAY}, u.k) AS w
            FROM daily CROSS JOIN generate_series(0, {EWMA_HORIZON}) AS u(k)
        ),
        sm AS (
            SELECT target_day, sum(wrev) AS wsum, sum(w) AS wtot
            FROM scattered GROUP BY target_day
        )
        SELECT d.day, round(d.rev, 2) AS revenue,
               round(sm.wsum / sm.wtot, 4) AS ewma
        FROM daily d JOIN sm ON sm.target_day = d.day
        ORDER BY d.day
    """,
    doc=(
        f"Exponentially-weighted trailing mean (decay {EWMA_DECAY}, "
        f"{EWMA_HORIZON + 1}-day horizon, >99% of the infinite-sum "
        "mass) of daily revenue. Scatter-gather formulation: each day "
        "is exploded onto the horizon of future days it contributes "
        "to (sequence + explode), then a groupBy on the target day "
        "sums the pre-weighted terms — two equi-shuffles over a "
        "calendar-bounded series, no range join, no window, and the "
        "weights are data-independent constants so Catalyst constant-"
        "folds pow(). Normalizing by the realized weight mass makes "
        "boundary days (first 13) an average over the data present "
        "rather than biased toward zero."
    ),
    tags=("events", "timeseries", "agg"),
)
def events_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir).select("day", "rev")
    scattered = daily.select(
        "day", "rev", F.explode(F.sequence(F.lit(0), F.lit(EWMA_HORIZON))).alias("k")
    ).select(
        F.date_add("day", F.col("k")).alias("target_day"),
        (F.col("rev") * F.pow(F.lit(EWMA_DECAY), F.col("k"))).alias("wrev"),
        F.pow(F.lit(EWMA_DECAY), F.col("k")).alias("w"),
    )
    sm = scattered.groupBy("target_day").agg(
        F.sum("wrev").alias("wsum"), F.sum("w").alias("wtot")
    )
    return (
        daily.join(sm, daily.day == sm.target_day)
        .select(
            "day",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("wsum") / F.col("wtot"), 4).alias("ewma"),
        )
        .orderBy("day")
    )


@register(
    "events_hourly_profile",
    oracle="""
        WITH hourly AS (
            SELECT event_type, extract(hour FROM ts) AS hr, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        withp AS (
            SELECT event_type, hr, c,
                   c * 1.0 / sum(c) OVER (PARTITION BY event_type) AS p
            FROM hourly
        ),
        totals AS (
            SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
                   round(max(c) * 24.0 / sum(c), 4) AS peak_ratio,
                   round(-sum(p * ln(p)), 4) AS hour_entropy
            FROM withp GROUP BY event_type
        ),
        peaks AS (
            SELECT event_type, hr AS peak_hour,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY c DESC, hr) AS rn
            FROM hourly
        )
        SELECT t.event_type, t.n_events, p.peak_hour, t.peak_ratio,
               t.hour_entropy
        FROM totals t JOIN peaks p
          ON p.event_type = t.event_type AND p.rn = 1
        ORDER BY t.event_type
    """,
    doc=(
        "Hour-of-day periodicity profile per event type: total volume, "
        "the peak hour (deterministic tie-break on hour), how spiky the "
        "peak is vs a uniform profile (peak_ratio = max_bin * 24 / n), "
        "and the Shannon entropy of the 24-bin distribution (ln-based; "
        "3.178 = perfectly uniform). The fact collapses to at most "
        "|types| x 24 cells in one map-side-combinable shuffle; the "
        "argmax and entropy run over that bounded cell table with "
        "windows partitioned by event_type."
    ),
    tags=("events", "timeseries", "agg"),
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    hourly = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count("*").alias("c")
    )
    wt = W.partitionBy("event_type")
    p = F.col("c") / F.sum("c").over(wt)
    stats = hourly.withColumn("p", p).groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.round(F.max("c") * 24.0 / F.sum("c"), 4).alias("peak_ratio"),
        F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 4).alias("hour_entropy"),
    )
    wr = W.partitionBy("event_type").orderBy(F.col("c").desc(), F.col("hr"))
    peaks = (
        hourly.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hr").alias("peak_hour"))
    )
    return (
        stats.join(peaks, "event_type")
        .select("event_type", "n_events", "peak_hour", "peak_ratio", "hour_entropy")
        .orderBy("event_type")
    )


SHIFT_WINDOW = 7
SHIFT_SIGMA = 2.0


@register(
    "events_level_shift_detector",
    oracle=f"""
        WITH daily AS (
            -- ts IS NOT NULL mirrors the Spark side's day filter: a
            -- NULL-timestamp event has no calendar position, and the
            -- engines place the NULL day at OPPOSITE ends of the
            -- ordered ROWS frames (Spark ASC = NULLS FIRST, DuckDB =
            -- NULLS LAST), shifting every boundary frame (round-9
            -- convergence; clean events always carry a timestamp)
            SELECT CAST(ts AS DATE) AS day, count(*) AS n
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        stats AS (SELECT stddev_samp(n) AS sd FROM daily),
        framed AS (
            SELECT day, n,
                   avg(n * 1.0) OVER (ORDER BY day
                       ROWS BETWEEN {SHIFT_WINDOW} PRECEDING AND 1 PRECEDING)
                       AS mean_before,
                   avg(n * 1.0) OVER (ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND {SHIFT_WINDOW - 1} FOLLOWING)
                       AS mean_after,
                   count(*) OVER (ORDER BY day
                       ROWS BETWEEN {SHIFT_WINDOW} PRECEDING AND 1 PRECEDING)
                       AS n_before
            FROM daily
        )
        SELECT day, n,
               round(mean_before, 4) AS mean_before,
               round(mean_after, 4) AS mean_after,
               round(abs(mean_after - mean_before) / stats.sd, 4) AS shift_score,
               CASE WHEN round(abs(mean_after - mean_before) / stats.sd, 4)
                         > {SHIFT_SIGMA} THEN 1 ELSE 0 END AS is_shift
        FROM framed CROSS JOIN stats
        WHERE n_before = {SHIFT_WINDOW}
        ORDER BY day
    """,
    doc=(
        f"Level-shift (changepoint) detector on the daily event-count "
        f"series: trailing-{SHIFT_WINDOW}-day mean vs leading-"
        f"{SHIFT_WINDOW}-day mean per day, scored in global-stddev "
        f"units, flagged above {SHIFT_SIGMA} sigma. The SF-scaled fact "
        "reduces to the calendar-bounded daily series before any "
        "window; the two frame means and the flag run over that tiny "
        "series (a window over days-elapsed rows, not data), and the "
        "global sd rides as a broadcast scalar. Flag membership "
        "compares the ROUNDED score, so sub-ulp float differences "
        "between engines cannot flip a row (the "
        "daily_revenue_anomalies convention). Warm-up days without a "
        f"full {SHIFT_WINDOW}-day history are excluded."
    ),
    tags=("events", "timeseries", "window"),
)
def events_level_shift_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-day gate — see the oracle comment (calendar frames need a
    # total, calendar-positioned key)
    daily = (
        _daily(spark, sf_dir).filter(F.col("day").isNotNull()).select("day", "n")
    )
    sd = F.broadcast(daily.agg(F.stddev_samp("n").alias("sd")))
    # constant-key global windows: both frames run over the daily
    # aggregate series (bounded by calendar span), never the facts
    w_before = (
        W.partitionBy(const_key("day")).orderBy("day").rowsBetween(-SHIFT_WINDOW, -1)
    )
    w_after = (
        W.partitionBy(const_key("day")).orderBy("day").rowsBetween(0, SHIFT_WINDOW - 1)
    )
    framed = (
        daily.withColumn("mean_before", F.avg(F.col("n") * 1.0).over(w_before))
        .withColumn("mean_after", F.avg(F.col("n") * 1.0).over(w_after))
        .withColumn("n_before", F.count("*").over(w_before))
    )
    score = F.round(
        F.abs(F.col("mean_after") - F.col("mean_before")) / F.col("sd"), 4
    )
    return (
        framed.crossJoin(sd)
        .filter(F.col("n_before") == SHIFT_WINDOW)
        .select(
            "day",
            "n",
            F.round("mean_before", 4).alias("mean_before"),
            F.round("mean_after", 4).alias("mean_after"),
            score.alias("shift_score"),
            F.when(score > SHIFT_SIGMA, 1).otherwise(0).alias("is_shift"),
        )
        .orderBy("day")
    )


@register(
    "events_seasonality_decomposition",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY 1
        ),
        dow AS (
            SELECT day, n, dayofweek(day) AS dw FROM daily
        ),
        season AS (
            SELECT dw, avg(n * 1.0) AS dow_mean FROM dow GROUP BY dw
        ),
        grand AS (SELECT avg(n * 1.0) AS g FROM daily),
        trend_scatter AS (
            SELECT day + CAST(u.k AS INTEGER) AS target_day,
                   n * pow({EWMA_DECAY}, u.k) AS wn,
                   pow({EWMA_DECAY}, u.k) AS w
            FROM daily CROSS JOIN generate_series(0, {EWMA_HORIZON}) AS u(k)
        ),
        trend AS (
            SELECT target_day, sum(wn) / sum(w) AS tr
            FROM trend_scatter GROUP BY target_day
        )
        SELECT d.day, d.n,
               round(t.tr, 2) AS trend,
               round(s.dow_mean / g.g, 4) AS seasonal_idx,
               round(t.tr * (s.dow_mean / g.g), 2) AS expected,
               round(d.n - t.tr * (s.dow_mean / g.g), 2) AS residual
        FROM dow d
        JOIN trend t ON t.target_day = d.day
        JOIN season s ON s.dw = d.dw
        CROSS JOIN grand g
        ORDER BY d.day
    """,
    doc=(
        "Multiplicative seasonality decomposition of the daily event "
        "series (STL-lite): trend = trailing EWMA (the scatter-gather "
        "equi-join form, no window), seasonal index = day-of-week mean "
        "over grand mean, residual = observed - trend x seasonal. "
        "Everything downstream of the one fact-reducing shuffle "
        "operates on the calendar-bounded daily series: the seasonal "
        "table is 7 rows, the grand mean a broadcast scalar. The "
        "residual column is what anomaly detectors should consume "
        "instead of raw counts — it removes the weekly rhythm that "
        "makes naive z-scores fire every weekend."
    ),
    tags=("events", "timeseries", "agg"),
)
def events_seasonality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir).select("day", "n")
    dow = daily.withColumn("dw", F.dayofweek("day"))
    season = dow.groupBy("dw").agg(F.avg(F.col("n") * 1.0).alias("dow_mean"))
    grand = F.broadcast(daily.agg(F.avg(F.col("n") * 1.0).alias("g")))
    scattered = daily.select(
        "day", "n", F.explode(F.sequence(F.lit(0), F.lit(EWMA_HORIZON))).alias("k")
    ).select(
        F.date_add("day", F.col("k")).alias("target_day"),
        (F.col("n") * F.pow(F.lit(EWMA_DECAY), F.col("k"))).alias("wn"),
        F.pow(F.lit(EWMA_DECAY), F.col("k")).alias("w"),
    )
    trend = scattered.groupBy("target_day").agg(
        (F.sum("wn") / F.sum("w")).alias("tr")
    )
    idx = F.col("dow_mean") / F.col("g")
    return (
        dow.join(trend, dow.day == trend.target_day)
        .join(F.broadcast(season), "dw")
        .crossJoin(grand)
        .select(
            "day",
            "n",
            F.round("tr", 2).alias("trend"),
            F.round(idx, 4).alias("seasonal_idx"),
            F.round(F.col("tr") * idx, 2).alias("expected"),
            F.round(F.col("n") - F.col("tr") * idx, 2).alias("residual"),
        )
        .orderBy("day")
    )


@register(
    "events_daily_kl_drift",
    oracle="""
        WITH cells AS (
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        days AS (SELECT DISTINCT day FROM cells),
        types AS (SELECT DISTINCT event_type FROM cells),
        n_types AS (SELECT count(*) AS tt FROM types),
        spine AS (SELECT d.day, t.event_type FROM days d CROSS JOIN types t),
        filled AS (
            SELECT s.day, s.event_type, coalesce(c.c, 0) AS c
            FROM spine s LEFT JOIN cells c
              ON c.day = s.day AND c.event_type = s.event_type
        ),
        probs AS (
            SELECT day, event_type,
                   (c + 1) * 1.0
                       / (sum(c) OVER (PARTITION BY day) + n_types.tt) AS p,
                   CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n_events
            FROM filled CROSS JOIN n_types
        )
        SELECT cur.day, max(cur.n_events) AS n_events,
               round(sum(cur.p * ln(cur.p / prev.p)), 4) AS kl_prev
        FROM probs cur
        JOIN probs prev ON prev.day = cur.day - 1
                       AND prev.event_type = cur.event_type
        GROUP BY cur.day
        ORDER BY cur.day
    """,
    doc=(
        "Day-over-day distribution drift of the event-type mix, as "
        "add-one-smoothed KL divergence KL(today || yesterday) — the "
        "monitor that catches a client release silently changing the "
        "event composition before any count-based alarm fires (volume "
        "can stay flat while the mix shifts). The SF-scaled fact "
        "reduces to |days| x |types| cells in ONE map-side-combinable "
        "shuffle; the day-type spine (cross join of two tiny distinct "
        "sets), the per-day normalization window, and the day-vs-"
        "previous-day equi-join all run on that calendar-bounded cell "
        "table. Laplace smoothing keeps KL finite when a type is "
        "absent on either day; the type-count scalar rides along as a "
        "broadcast cross join (house scalar-subquery shape)."
    ),
    tags=("events", "timeseries", "agg"),
)
def events_daily_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    cells = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("c"))
    return kl_drift_from_cells(cells)


def kl_drift_from_cells(cells: DataFrame) -> DataFrame:
    """KL-drift math over a (day, event_type, c) cell table — shared by
    the batch operator above and the streaming twin
    (pipeline.streaming.stream_daily_mix_drift), so the monitor a
    stream maintains incrementally and the batch recompute are the
    same code and provably agree (test_streaming)."""
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    n_types = F.broadcast(types.agg(F.count("*").alias("tt")))
    spine = days.crossJoin(F.broadcast(types))
    filled = (
        spine.join(cells, ["day", "event_type"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    wd = W.partitionBy("day")
    probs = filled.crossJoin(n_types).select(
        "day",
        "event_type",
        ((F.col("c") + 1) / (F.sum("c").over(wd) + F.col("tt"))).alias("p"),
        F.sum("c").over(wd).alias("n_events"),
    )
    cur = probs.select("day", "event_type", "p", "n_events")
    prev = probs.select(
        F.date_add("day", 1).alias("day"),
        "event_type",
        F.col("p").alias("q"),
    )
    return (
        cur.join(prev, ["day", "event_type"])
        .groupBy("day")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 4).alias(
                "kl_prev"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Sweep-line interval counting: open-order backlog over time
# ---------------------------------------------------------------------------


@register(
    "orders_open_backlog_sweepline",
    oracle="""
        WITH ls AS (
            SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
            FROM lineitem GROUP BY l_orderkey
        ),
        o AS (
            SELECT CAST(o_orderdate AS DATE) AS od, ls.last_ship
            FROM orders JOIN ls ON o_orderkey = ls.l_orderkey
        ),
        deltas AS (
            SELECT od AS day, 1 AS delta FROM o
            UNION ALL
            SELECT last_ship + 1 AS day, -1 AS delta FROM o
        ),
        daily AS (
            SELECT day, CAST(sum(delta) AS BIGINT) AS d FROM deltas GROUP BY day
        ),
        run AS (
            SELECT day,
                   CAST(sum(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS open_orders
            FROM daily
        )
        SELECT strftime(day, '%Y-%m') AS month,
               CAST(max(open_orders) AS BIGINT) AS max_open,
               CAST(min(open_orders) AS BIGINT) AS min_open,
               CAST(arg_max(open_orders, day) AS BIGINT) AS month_end_open
        FROM run
        GROUP BY month
        ORDER BY month
    """,
    doc=(
        "Open-order backlog over time by SWEEP-LINE: an order is open "
        "from its order date until its last lineitem ships, and the "
        "per-day open count is computed by event DIFFERENCING — +1 at "
        "open, -1 the day after close, then a prefix sum over the "
        "calendar — instead of the naive day-x-interval stabbing join "
        "(O(days * orders), the shape that kills 'how many in flight' "
        "dashboards at volume). Cost: one per-order max, one hash "
        "join, one per-day combinable aggregate, and a prefix sum over "
        "the CALENDAR-bounded daily table via "
        "ranking.with_global_running_sum (cutpoint buckets, no "
        "single-partition funnel); every count is an exact integer. "
        "Reported per month: peak, trough, and month-end backlog "
        "(arg_max/max_by on the unique day order)."
    ),
    tags=("timeseries", "window", "join"),
)
def orders_open_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t
    from coviddatapipeline_spark.operators.ranking import with_global_running_sum

    ls = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("last_ship"))
    )
    o = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
        .join(ls, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("od", "last_ship")
    )
    deltas = o.select(F.col("od").alias("day"), F.lit(1).alias("delta")).unionByName(
        o.select(F.date_add("last_ship", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    # OPTIMIZATION_r13 §6: the prefix-sum helper's eager cutpoint +
    # offsets jobs plus the final pass would re-run the order/lineitem
    # join three times; the checkpoint materializes the CALENDAR-
    # bounded daily delta table (one row per active day) once.
    daily = (
        deltas.groupBy("day")
        .agg(F.sum("delta").alias("d"))
        .localCheckpoint(eager=True)
    )
    run, _ = with_global_running_sum(daily, ["day"], "d", out="open_dec")
    run = run.withColumn("open_orders", F.col("open_dec").cast("long"))
    return (
        run.groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.max("open_orders").alias("max_open"),
            F.min("open_orders").alias("min_open"),
            F.max_by("open_orders", "day").alias("month_end_open"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Exact-integer autocorrelation and CUSUM change-point scan
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 7, 30)

# Shared oracle preamble: zero-filled calendar of daily order counts,
# demeaned WITHOUT division — y_t = n * x_t - S is integer-exact and
# shares sign and correlation structure with (x_t - mean).
_DAILY_DEMEANED_SQL = """
    bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS mind,
               CAST(max(o_orderdate) AS DATE) AS maxd
        FROM orders
    ),
    cal AS (
        SELECT CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds
    ),
    counts AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
        FROM orders GROUP BY 1
    ),
    filled AS (
        SELECT c.day, CAST(coalesce(k.x, 0) AS BIGINT) AS x,
               date_diff('day', b.mind, c.day) AS idx
        FROM cal c LEFT JOIN counts k ON c.day = k.day, bounds b
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        FROM filled
    ),
    y AS (
        SELECT f.idx, f.day, t.n, t.n * f.x - t.s AS y
        FROM filled f CROSS JOIN tot t
    )
"""


@register(
    "timeseries_acf_daily_orders",
    oracle=f"""
        WITH {_DAILY_DEMEANED_SQL},
        den AS (SELECT sum(CAST(y AS HUGEINT) * y) AS den FROM y),
        pairs AS (
            SELECT k.lag, a.y AS ya, b.y AS yb
            FROM y a
            JOIN (SELECT unnest([1, 7, 30]) AS lag) k ON true
            JOIN y b ON b.idx = a.idx + k.lag
        ),
        num AS (
            SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                   sum(CAST(ya AS HUGEINT) * yb) AS num
            FROM pairs GROUP BY lag
        )
        SELECT CAST(num.lag AS BIGINT) AS lag,
               (SELECT n FROM tot) AS n_days,
               num.n_pairs,
               CAST((CASE WHEN num.num < 0 THEN -1 ELSE 1 END)
                    * (abs(num.num) * 10000 // den.den) AS BIGINT) AS acf_e4
        FROM num CROSS JOIN den
        ORDER BY lag
    """,
    doc=(
        f"Autocorrelation of the daily order count at lags "
        f"{ACF_LAGS} — the seasonality detector (lag-7 flags weekly "
        f"cycles, lag-30 monthly) run entirely in exact integers: the "
        f"calendar is zero-filled (a missing day IS a zero "
        f"observation), the series is demeaned without division via "
        f"y_t = n*x_t - S (integer, same correlation structure), and "
        f"r_k = sum(y_t y_t+k)/sum(y_t^2) is reported at e4 with an "
        f"explicit sign factor so truncating division agrees across "
        f"engines on negative numerators. Each lag is an equi-join of "
        f"the daily table against itself shifted by k (a 3-way lag "
        f"explode, one join) — everything after the one per-day "
        f"combinable aggregate runs on the calendar-bounded table, "
        f"never the order stream. No float, no libm, no window over "
        f"data."
    ),
    tags=("timeseries", "stats", "agg"),
)
def timeseries_acf_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t

    orders = t(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    )
    cal = b.select(
        F.explode(F.sequence("mind", "maxd")).alias("day"), "mind"
    )
    counts = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("x")
    )
    filled = cal.join(counts, "day", "left").select(
        "day",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        F.datediff("day", "mind").cast("long").alias("idx"),
    )
    tot = filled.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    y = filled.crossJoin(F.broadcast(tot)).select(
        "idx", "n", (F.col("n") * F.col("x") - F.col("s")).alias("y")
    )
    # y^2 / ya*yb power sums and the e4 product run in DECIMAL(38,0):
    # int64 overflows around sf10 (abs(num)*10000 first), the exact
    # hazard the DECIMAL(38)/HUGEINT pattern in
    # graph_degree_assortativity exists for. The quotient is made EXACT
    # by subtracting the decimal modulus before dividing; DuckDB
    # reaches the same integers through HUGEINT `//`.
    den = y.agg(
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("den")
    )
    lags = F.array(*[F.lit(k) for k in ACF_LAGS])
    probes = y.select(
        "idx", F.col("y").alias("ya"), F.explode(lags).alias("lag")
    ).withColumn("bidx", F.col("idx") + F.col("lag"))
    pairs = probes.join(
        y.select(F.col("idx").alias("bidx"), F.col("y").alias("yb")), "bidx"
    )
    num = pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("ya").cast("decimal(38,0)") * F.col("yb")).alias("num"),
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot.select(F.col("n").alias("n_days"))))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr(
                "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
                " * ((abs(num) * 10000 - (abs(num) * 10000) % den)"
                " / den) AS BIGINT)"
            ).alias("acf_e4"),
        )
        .orderBy("lag")
    )


CUSUM_TOP = 3


@register(
    "timeseries_cusum_changepoint",
    oracle=f"""
        WITH {_DAILY_DEMEANED_SQL},
        run AS (
            SELECT day,
                   CAST(sum(y) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cusum
            FROM y
        ),
        ranked AS (
            SELECT day, cusum,
                   row_number() OVER (ORDER BY abs(cusum) DESC, day) AS rank
            FROM run
        )
        SELECT CAST(rank AS BIGINT) AS rank, day, cusum,
               (SELECT n FROM tot) AS n_days
        FROM ranked WHERE rank <= {CUSUM_TOP}
        ORDER BY rank
    """,
    doc=(
        f"CUSUM change-point scan over daily order volume (Page 1954, "
        f"public): the cumulative sum of the integer-demeaned daily "
        f"count (y_t = n*x_t - S, so the walk returns to exactly 0 at "
        f"the end) peaks in magnitude AT the level-shift point — the "
        f"top-{CUSUM_TOP} |cusum| days are the candidate change points "
        f"a retraining/alerting pipeline inspects first. The prefix sum "
        f"runs through ranking.with_global_running_sum (cutpoint "
        f"buckets, no single-partition funnel over data); the ranking "
        f"window sees only the calendar-bounded daily table. Every "
        f"value is an exact integer — the statistic cannot drift "
        f"between engines or partitionings."
    ),
    tags=("timeseries", "stats", "window"),
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t
    from coviddatapipeline_spark.operators.ranking import with_global_running_sum

    orders = t(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    )
    cal = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"), "mind")
    counts = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("x")
    )
    filled = cal.join(counts, "day", "left").select(
        "day",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        F.datediff("day", "mind").cast("long").alias("idx"),
    )
    tot = filled.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    y = filled.crossJoin(F.broadcast(tot)).select(
        "day", "idx", "n", (F.col("n") * F.col("x") - F.col("s")).alias("y")
    )
    # OPTIMIZATION_r12 §B4: idx is the day offset on the calendar
    # spine (0..n_days-1, non-null by construction) — idx DIV 128 is a
    # monotone integral bucket, so the prefix-sum helper skips its
    # approx_percentile cutpoint job (one of three passes over the
    # spine subtree); ~30 buckets per decade keeps the per-bucket
    # windows parallel.
    run, _ = with_global_running_sum(
        y,
        ["idx"],
        "y",
        out="cusum_raw",
        bucket_of=F.expr("coalesce(idx, 0) DIV 128"),
    )
    run = run.withColumn("cusum", F.col("cusum_raw").cast("long"))
    # constant-key global window over the calendar-bounded spine —
    # warning-free plan, identical semantics (retrieval.py note)
    w = W.partitionBy(
        F.pmod(F.coalesce(F.col("cusum"), F.lit(0)), F.lit(1))
    ).orderBy(F.abs(F.col("cusum")).desc(), "day")
    return (
        run.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= CUSUM_TOP)
        .select("rank", "day", "cusum", F.col("n").cast("long").alias("n_days"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# OLS trend and MAD robust outliers over the daily series
# ---------------------------------------------------------------------------


@register(
    "timeseries_ols_trend",
    oracle=f"""
        WITH {_DAILY_DEMEANED_SQL},
        sums AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(idx) AS BIGINT) AS sx,
                   CAST(sum(x) AS BIGINT) AS sy,
                   CAST(sum(idx * idx) AS BIGINT) AS sxx,
                   CAST(sum(idx * x) AS BIGINT) AS sxy
            FROM filled
        ),
        terms AS (
            SELECT n, sy,
                   n * sxy - sx * sy AS num_b,
                   sy * sxx - sx * sxy AS num_a,
                   n * sxx - sx * sx AS den
            FROM sums
        )
        SELECT n AS n_days, sy AS total_orders,
               CAST((CASE WHEN num_b < 0 THEN -1 ELSE 1 END)
                    * (abs(num_b) * 1000000 // den) AS BIGINT) AS slope_e6,
               CAST((CASE WHEN num_a < 0 THEN -1 ELSE 1 END)
                    * (abs(num_a) * 100 // den) AS BIGINT) AS intercept_e2
        FROM terms
    """,
    doc=(
        "Ordinary-least-squares trend of daily order volume in EXACT "
        "integer arithmetic: slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) "
        "and intercept = (Sy*Sxx - Sx*Sxy)/(n*Sxx - Sx^2) are exact "
        "integer ratios of the five power sums — one combinable "
        "aggregate over the zero-filled calendar — reported at "
        "e6/e2 with explicit sign factors so truncating division "
        "agrees across engines on negative numerators (intercept at "
        "e2, not e4, keeps the Sy*Sxx product inside int64 at any "
        "tested SF). The growth-rate number capacity planning and "
        "drift-vs-trend attribution start from; the CUSUM entry finds "
        "WHERE the level shifts, this finds the secular slope."
    ),
    tags=("timeseries", "stats", "agg"),
)
def timeseries_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from coviddatapipeline_spark.operators.common import t

    orders = t(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    )
    cal = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"), "mind")
    counts = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("x")
    )
    filled = cal.join(counts, "day", "left").select(
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        F.datediff("day", "mind").cast("long").alias("idx"),
    )
    sums = filled.agg(
        F.count("*").alias("n"),
        F.sum("idx").alias("sx"),
        F.sum("x").alias("sy"),
        F.sum(F.col("idx") * F.col("idx")).alias("sxx"),
        F.sum(F.col("idx") * F.col("x")).alias("sxy"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total_orders"),
        F.expr(
            "CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)"
            " * (abs(n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("slope_e6"),
        F.expr(
            "CAST((CASE WHEN sy * sxx - sx * sxy < 0 THEN -1 ELSE 1 END)"
            " * (abs(sy * sxx - sx * sxy) * 100"
            " DIV (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("intercept_e2"),
    )


MAD_K = 3  # flag |x - median| > MAD_K * MAD


@register(
    "timeseries_mad_outliers",
    oracle=f"""
        WITH {_DAILY_DEMEANED_SQL},
        ranked AS (
            SELECT x, row_number() OVER (ORDER BY x, day) AS r
            FROM filled
        ),
        med AS (
            SELECT r2.x AS median_x
            FROM ranked r2, tot
            WHERE r2.r = (tot.n + 1) // 2
        ),
        devs AS (
            SELECT f.day, f.x, abs(f.x - m.median_x) AS dev
            FROM filled f CROSS JOIN med m
        ),
        dranked AS (
            SELECT dev, row_number() OVER (ORDER BY dev, day) AS r FROM devs
        ),
        mad AS (
            SELECT d.dev AS mad FROM dranked d, tot
            WHERE d.r = (tot.n + 1) // 2
        )
        SELECT t.n AS n_days,
               CAST(m.median_x AS BIGINT) AS median_daily,
               CAST(a.mad AS BIGINT) AS mad,
               CAST(sum(CASE WHEN d.dev > {MAD_K} * a.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outlier_days,
               CAST(max(d.dev) AS BIGINT) AS max_abs_dev
        FROM devs d CROSS JOIN med m CROSS JOIN mad a CROSS JOIN tot t
        GROUP BY t.n, m.median_x, a.mad
    """,
    doc=(
        f"Robust outlier detection on daily order volume via median "
        f"absolute deviation (Hampel lineage, public): the median and "
        f"the MAD are selected by EXACT integer rank (lower median at "
        f"rank (n+1) DIV 2 under the unique (value, day) order — no "
        f"interpolation semantics to diverge cross-engine), and a day "
        f"is an outlier when |x - median| > {MAD_K} * MAD — the "
        f"mean/stddev-free rule a single Black-Friday spike cannot "
        f"poison, unlike the z-score entry it complements. Rank "
        f"selection runs on the calendar-bounded daily table; medians "
        f"join back as broadcast scalars; every number is an exact "
        f"integer."
    ),
    tags=("timeseries", "stats", "window"),
)
def timeseries_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from coviddatapipeline_spark.operators.common import t

    orders = t(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    )
    cal = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"), "mind")
    counts = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("x")
    )
    filled = cal.join(counts, "day", "left").select(
        "day",
        F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
    )
    n = filled.count()
    med = (
        filled.withColumn(
            # constant-key global window over the calendar-bounded
            # daily series (same for the MAD ranking below)
            "r", F.row_number().over(_W.partitionBy(const_key("day")).orderBy("x", "day"))
        )
        .filter(F.col("r") == (n + 1) // 2)
        .select(F.col("x").alias("median_x"))
    )
    devs = filled.crossJoin(F.broadcast(med)).select(
        "day", "x", F.abs(F.col("x") - F.col("median_x")).alias("dev"), "median_x"
    )
    mad = (
        devs.withColumn(
            "r",
            F.row_number().over(_W.partitionBy(const_key("day")).orderBy("dev", "day")),
        )
        .filter(F.col("r") == (n + 1) // 2)
        .select(F.col("dev").alias("mad"))
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .groupBy("median_x", "mad")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(
                F.when(F.col("dev") > MAD_K * F.col("mad"), 1).otherwise(0)
            ).alias("n_outlier_days"),
            F.max("dev").alias("max_abs_dev"),
        )
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("median_x").cast("long").alias("median_daily"),
            F.col("mad").cast("long").alias("mad"),
            F.col("n_outlier_days").cast("long").alias("n_outlier_days"),
            F.col("max_abs_dev").cast("long").alias("max_abs_dev"),
        )
    )
