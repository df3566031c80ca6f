"""Structured-Streaming twin of the covid pipeline (SURVEY §7.2.6).

The reference frames its CSV as "a stream of data (never ending)" with
hand-rolled offset checkpoints (/root/reference/README.md:81,
ingest_csv_to_elastic.py:24-33). Spark's file source + checkpointLocation
is the native form: exactly-once file offsets, resumable, no
checkpoint-vs-write ordering hazards (SURVEY §4.3.6).

``Trigger.AvailableNow`` gives the hourly-micro-batch analogue: drain
everything available, then stop — re-invoke on any schedule.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from coviddatapipeline_spark.pipeline.schemas import COVID_RAW_SCHEMA
from coviddatapipeline_spark.pipeline.silver import transform_covid


def stream_csv_to_silver(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously ingest CSV files dropped into ``input_dir``, apply the
    Silver transform, append to the Silver table. File-source offsets in
    ``checkpoint_dir`` replace both reference checkpoints (S9 + S10):
    a restart resumes at the exact unprocessed file set, and a file is
    never double-processed."""
    raw = (
        spark.readStream.schema(COVID_RAW_SCHEMA)
        .option("header", "true")
        .option("maxFilesPerTrigger", 10)
        .csv(input_dir)
    )
    clean = transform_covid(raw)
    return (
        clean.writeStream.format("parquet")
        .option("path", silver_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_refresh_gold(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    gold_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference's end-to-end story as ONE streaming pipeline: CSV
    drops -> Silver append -> Gold dashboard refresh per micro-batch
    (the per-run Metabase refresh of SURVEY Q6, natively). foreachBatch
    is the escape hatch for multi-sink batches: each trigger appends the
    new Silver rows, then recomputes the Gold aggregates from the full
    Silver table and atomically overwrites them. Gold recompute reads
    all of Silver (partitioned by ``batch_id`` only) — at 100 TB you'd
    incrementalize hot aggregates with stateful streaming; full
    recompute is the correct-by-construction baseline the reference
    itself uses (re-issued dashboard queries).
    """
    import os

    from coviddatapipeline_spark.pipeline import gold as G

    raw = (
        spark.readStream.schema(COVID_RAW_SCHEMA)
        .option("header", "true")
        .csv(input_dir)
    )
    clean = transform_covid(raw)

    def refresh(batch_df, batch_id: int) -> None:
        # Idempotent Silver write (ADVICE r01, medium): foreachBatch is
        # at-least-once, so a crash between a plain append and the offset
        # commit would replay the batch and duplicate Silver rows — the
        # SURVEY §4.3.2 hazard. Partitioning by batch_id and dynamically
        # overwriting exactly that partition makes the replay a no-op:
        # effective guarantee is exactly-once for the Silver table. The
        # overwrite mode is a per-WRITER option, not a session conf
        # mutation — concurrent writes on the same session keep their own
        # semantics.
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(silver_path)
        )
        cases = batch_df.sparkSession.read.parquet(silver_path)
        for name, builder in (
            ("q1_total_count", G.q1_total_count),
            ("q2_latest_date", G.q2_latest_date),
            ("q4_cases_by_county", G.q4_cases_by_county_topk_other),
            ("q5_deaths_by_state", G.q5_deaths_by_state),
        ):
            builder(cases).write.mode("overwrite").parquet(
                os.path.join(gold_dir, name)
            )

    return (
        clean.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_gold_q5(
    spark: SparkSession,
    input_dir: str,
    gold_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """INCREMENTAL gold (NEXT.md #1): Q5 (deaths per state) maintained
    as a streaming update-mode aggregation. Each micro-batch emits only
    the states whose totals CHANGED; the sink rewrites exactly those
    partitions via dynamic partition overwrite. Contrast with
    ``stream_refresh_gold``'s full recompute: work per trigger is
    O(changed keys), not O(all silver) — the crossover that matters
    when silver is 100 TB and a trigger touches a handful of states.
    """
    raw = (
        spark.readStream.schema(COVID_RAW_SCHEMA)
        .option("header", "true")
        .csv(input_dir)
    )
    totals = (
        transform_covid(raw)
        .groupBy("state")
        .agg(F.sum("new_deaths").alias("deaths"))
    )

    def upsert(batch_df, batch_id: int) -> None:
        # update-mode batch = only rows whose aggregate changed; dynamic
        # overwrite scoped to THIS writer (no session-conf mutation)
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("state")
            .parquet(gold_path)
        )

    return (
        totals.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(events_stream, gap: str = "30 minutes", watermark: str = "1 hour"):
    """Event-time sessionization on an unbounded stream: per-user
    sessions close after ``gap`` of inactivity (F.session_window — the
    dynamic-width window), emitted once the watermark passes the
    session end. The streaming twin of the batch
    ``events_sessionization`` operator; state per (user, open session)
    only, merged and evicted by the state store — sessionization at
    stream scale without a global sort.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_enrich_with_static(events_stream, static_df, key: str):
    """Stream-static join: each micro-batch hash-joins against a batch
    DataFrame (dimension/lookup table). No watermark or state needed —
    the static side is re-resolved per batch, so a dimension refresh is
    picked up at the next trigger; Spark broadcasts it when it fits.
    The third member of the streaming join matrix alongside
    stream-stream (``stream_click_purchase_join``) and stateful
    aggregation."""
    return events_stream.join(static_df, key, "left")


def stream_click_purchase_join(
    clicks_stream,
    purchases_stream,
    max_lag: str = "15 minutes",
    watermark: str = "30 minutes",
):
    """Stream-stream interval join: each purchase joined to the same
    user's clicks within the preceding ``max_lag``. Both sides carry
    watermarks and the join condition bounds event-time distance, so
    Spark can size the join state and evict rows older than the
    watermark + interval — the bounded-state form of the batch
    ``range_join_clicks_before_purchase`` operator. Without the time
    bound the state would grow forever; with it, state is
    O(rate x (watermark + lag)) per side regardless of stream length.
    """
    clicks = (
        clicks_stream.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
    )
    purchases = (
        purchases_stream.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    return purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND c_ts >= p_ts - INTERVAL {max_lag} AND c_ts < p_ts"
        ),
        "inner",
    ).select("purchase_id", "c_ts", F.round("c_value", 2).alias("click_value"))


def stream_dedup_within_watermark(events_stream, watermark: str = "30 minutes"):
    """Streaming exact dedup: drop re-deliveries of the same ``event_id``
    arriving within the watermark horizon (at-least-once upstream ->
    effectively-once downstream). This is the streaming twin of the batch
    ``dedup_exact_*`` operators and the principled fix for the
    reference's at-least-once duplicate hazard (SURVEY §4.3.2): state is
    bounded by the watermark instead of growing forever, which is what
    makes it viable on an unbounded 100 TB/day stream.
    """
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_user_running_totals(events_stream, timeout: str = "NoTimeout"):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value sum) maintained across
    micro-batches — the class of operator (user-defined state machine)
    that windowed aggregation can't express. State is one tiny tuple per
    user; at scale it shards with the groupBy shuffle and lives in the
    state store.
    """
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # local import: kernel ships by value

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=f"{timeout}",
    )


def stream_session_paths(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    gap_us: int = 1_800_000_000,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Streaming twin of the ``events_session_path_mining`` sessionizer:
    a CUSTOM stateful session operator via ``applyInPandasWithState``
    with EventTimeTimeout — the user-defined session logic (n-gram path
    emission) that ``F.session_window`` aggregation cannot express.

    Per-user state is three scalars: the open session's trailing two
    event types plus the last event time (µs). Each arriving event
    either extends the session — emitting a completed 3-step path the
    moment its third event arrives — or, on an event-time gap >
    ``gap_us`` (strictly greater, matching the batch kernel's
    ``unix_micros`` compare), starts a fresh session. The engine evicts
    state once the watermark passes last_ts + gap: that session can
    never be extended again, so eviction is semantically free and state
    stays bounded by |active users| on an unbounded stream.

    Exactness contract (tested, incl. across a checkpoint restart):
    provided each user's events arrive in nondecreasing (ts, event_id)
    order ACROSS micro-batches and none arrives later than the
    watermark delay, the emitted multiset of paths equals the batch
    kernel's pre-ranking path counts — including paths whose three
    events span micro-batch boundaries, which is exactly what the
    carried (e1, e2) state exists for. In-batch arrival order is free:
    the kernel sorts its Arrow batch by (ts, event_id)."""
    gap_ms = gap_us // 1000

    # Kernel nested so cloudpickle ships it by value (workers need no
    # importable package path — same rule as the batch pandas kernels).
    def mine(key, pdfs, state):
        import pandas as pd

        def empty():
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "path": pd.Series(dtype="object"),
                }
            )

        if state.hasTimedOut:
            # Watermark passed last_ts + gap: the open session is
            # unextendable; trailing context can be dropped safely.
            state.remove()
            yield empty()
            return

        e1, e2, last_us = state.get if state.exists else (None, None, None)
        chunks = [c for c in pdfs if len(c)]
        if not chunks:  # concat on an empty list raises; guard first
            yield empty()
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        # astype through datetime64[us] is exact for any incoming
        # resolution (ns or us) — never a unit-dependent integer scale.
        ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
        paths = []
        for us, etype in zip(ts_us.tolist(), pdf["event_type"].tolist()):
            if last_us is not None and us - last_us > gap_us:
                e1, e2 = None, etype  # session break: fresh trailing context
            else:
                if e1 is not None:
                    paths.append(f"{e1}>{e2}>{etype}")
                e1, e2 = e2, etype
            last_us = us
        state.update((e1, e2, int(last_us)))
        # Timeout must sit strictly above the current watermark; the
        # clamp matters only for users already idle longer than the gap
        # at recovery time (their state is then evicted next batch).
        state.setTimeoutTimestamp(
            max(int(last_us) // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame({"user_id": [key[0]] * len(paths), "path": paths})

    stream = spark.readStream.schema(schema).parquet(input_dir)
    out = (
        stream.select("user_id", "ts", "event_id", "event_type")
        # NULL event time: no position in any session — excluded, same
        # contract as the batch sibling. Unfiltered, the kernel's NaT ->
        # int64 cast is int64-min, fabricating a session break and a
        # phantom path entry inside PERSISTENT state (observed:
        # 'b>c>NULLTS' emitted on a poison stream).
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            mine,
            outputStructType="user_id long, path string",
            stateStructType="e1 string, e2 string, last_us long",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    return (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_event_counts(
    spark: SparkSession,
    events_df_stream,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """Event-time tumbling-window aggregation with a real watermark —
    the idiomatic generalization of the reference's hand-rolled date
    watermark: late rows beyond ``watermark`` are dropped by the engine
    with bounded state, not silently lost by a checkpoint race."""
    return (
        events_df_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def stream_daily_mix_drift(
    spark: SparkSession,
    input_dir: str,
    cells_path: str,
    kl_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """Streaming twin of ``events_daily_kl_drift``: the (day, type)
    cell table is maintained as an update-mode streaming aggregation —
    each micro-batch emits only the cells whose count CHANGED, and the
    sink dynamic-partition-overwrites exactly those (day, event_type)
    partitions — then the KL monitor is recomputed from the full cell
    table with the SAME kernel the batch operator uses
    (timeseries.kl_drift_from_cells). The cell table is calendar x
    type bounded, so the per-trigger recompute is metadata-sized no
    matter how large the event stream is; the expensive reduction
    (events -> cells) is the part streaming state carries. This is the
    drift alarm run ON the ingest path instead of as a nightly batch.
    """
    from coviddatapipeline_spark.operators.timeseries import kl_drift_from_cells

    stream = spark.readStream.schema(schema).parquet(input_dir)
    cells = stream.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(F.count("*").alias("c"))

    def upsert(batch_df, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day", "event_type")
            .parquet(cells_path)
        )
        s = batch_df.sparkSession
        full = s.read.parquet(cells_path).select("day", "event_type", "c")
        kl_drift_from_cells(full).write.mode("overwrite").parquet(kl_path)

    return (
        cells.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms_grid(
    spark: SparkSession,
    input_dir: str,
    grid_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """Streaming twin of ``sketch_cms_heavy_hitters``'s grid build: the
    d x w Count-Min grid is maintained as an update-mode streaming
    aggregation over (j, bucket) — each event lands in d cells, the
    engine's state keeps the running cell counts, and each micro-batch
    dynamic-partition-overwrites exactly the cells that changed. The
    grid is the WHOLE streaming state (d*w longs, bounded forever —
    the reason CMS is a streaming structure at all); frequency
    estimates for any probe key then read the parquet grid without
    touching the event history. Cell-wise counts over a growing stream
    equal the batch grid exactly — asserted in
    tests/test_streaming.py."""
    from coviddatapipeline_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, _h

    stream = spark.readStream.schema(schema).parquet(input_dir)
    js = F.array([F.lit(j) for j in range(CMS_DEPTH)])
    cells = (
        stream.select(F.col("user_id"), F.explode(js).alias("j"))
        .withColumn(
            "bucket",
            _h(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                ),
                CMS_WIDTH,
            ),
        )
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )

    def upsert(batch_df, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("j", "bucket")
            .parquet(grid_path)
        )

    return (
        cells.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dau_wau(
    spark: SparkSession,
    input_dir: str,
    pairs_path: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """Streaming twin of ``events_dau_wau_stickiness``: each micro-batch
    reduces its events to DISTINCT (user_id, day) activity pairs — the
    only reduction whose size matters, done while the data is small —
    and appends them to a batch-id-partitioned pair log (dynamic
    overwrite of the batch's own partition = idempotent under replay,
    same exactly-once recipe as the gold pipeline). The DAU/WAU table
    is then recomputed from the compacted pair log with the SAME kernel
    the batch operator uses (operators.events.dau_wau_from_daily_users),
    so streamed and batch outputs are the same column algebra by
    construction. The pair log is bounded by |users| x |days| — the
    stream's raw volume never accumulates.
    """
    from coviddatapipeline_spark.operators.events import dau_wau_from_daily_users

    stream = spark.readStream.schema(schema).parquet(input_dir)
    ts_col = F.col("ts").cast("timestamp")
    pairs = stream.select(
        "user_id", ts_col.cast("date").alias("day")
    ).dropDuplicates(["user_id", "day"])

    def upsert(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_path)
        )
        s = batch_df.sparkSession
        log = s.read.parquet(pairs_path).select("user_id", "day")
        dau_wau_from_daily_users(log).write.mode("overwrite").parquet(out_path)

    return (
        pairs.writeStream.outputMode("append")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_contamination_guard(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    bench_docs,
    threshold: int = 10,
) -> StreamingQuery:
    """Streaming twin of ``contamination_ngram_overlap``'s per-doc hit
    detection — the benchmark-contamination check run ON the ingest
    path instead of as a nightly batch audit: documents stream in,
    each micro-batch's docs are shingled (distinct word trigrams, the
    same ``dedup._trigrams`` the batch entry and its oracle pin) and
    joined against the STATIC benchmark shingle set, and every doc
    sharing at least one shingle is emitted as
    (doc_id, source, shared, heavy) for quarantine upstream of
    training. The join + per-doc count is
    ``datapipe.contamination_hits`` — literally the same kernel the
    registered batch entry runs, so the ingest guard and the audited
    check cannot drift.

    Exactness contract (tested): contamination of a doc depends only on
    that doc and the static benchmark — there is NO cross-batch state —
    so provided each doc arrives in exactly one micro-batch (the
    file-source guarantee), the union of per-batch emissions equals the
    batch kernel's hits on the union of the input, regardless of how
    the stream is split into triggers. Scale: the benchmark shingle set
    is computed ONCE (persisted) and is eval-suite-sized (broadcast
    side); per-trigger work is shingle-explode + equi-join + combinable
    count on just that batch's docs — state the engine carries is zero,
    which is why this guard runs at ingest bandwidth. foreachBatch
    append is at-least-once on trigger retry (same caveat as the other
    foreachBatch twins); dedup downstream on (doc_id) if exactly-once
    materialization matters."""
    from coviddatapipeline_spark.operators.datapipe import contamination_hits
    from coviddatapipeline_spark.operators.dedup import _trigrams

    bench = (
        bench_docs.select(F.explode(_trigrams(F.col("text"))).alias("s"))
        .distinct()
        .persist()
    )
    bench.count()  # materialize once, not per trigger

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def guard(batch_df, batch_id: int) -> None:
        sh = batch_df.select(
            "doc_id", "source", F.explode(_trigrams(F.col("text"))).alias("s")
        )
        (
            contamination_hits(sh, bench)
            .withColumn("heavy", F.col("shared") >= threshold)
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(guard)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_versioned_pinned_read(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    join_key: str,
    version: int | None = None,
) -> StreamingQuery:
    """Streaming enrichment against a PINNED snapshot of a versioned
    table — the concurrency half of ``warehouse_time_travel_read``'s
    guarantee (VERDICT r06 #7): rows stream in, every micro-batch joins
    them against ONE version of the dim table, and commits that advance
    the live ``_CURRENT`` pointer while the stream runs must not change
    a single output row. This is Delta/Iceberg initial-snapshot
    semantics re-expressed over sources.py's atomic-pointer protocol:
    the pinned version directory is immutable by construction, so
    per-batch reads of it are byte-stable no matter how many writers
    commit concurrently — snapshot isolation without any lock.

    The pin itself must survive restarts (a resumed stream that
    re-resolved the live pointer would silently mix dim versions across
    the restart boundary), so the FIRST start persists the chosen
    version under the stream's own checkpoint dir with the same
    write-temp-then-``os.replace`` commit the table pointer uses;
    every restart reads the pin back instead of re-resolving.
    ``version=None`` pins the live version at first start.

    Retention contract (documented at ``read_versioned_at``): the
    protocol keeps the live version and its immediate predecessor, so a
    pinned stream is guaranteed readable while at most ONE commit lands
    after the pin. Beyond that the pinned directory may be GC'd and the
    next trigger fails LOUDLY (FileNotFoundError at resolve, or a
    missing-file read error mid-batch) instead of silently joining a
    different snapshot — rebuild the stream (new checkpoint) to re-pin;
    production deployments would widen retention instead.

    Scale: the dim side is a broadcast per trigger (dim tables are the
    small side by definition here); the stream side is file-source
    micro-batches with exactly-once offsets. foreachBatch append is
    at-least-once on trigger retry, same caveat as the other twins.
    """
    import json
    import os
    import tempfile

    from coviddatapipeline_spark.sources import (
        read_versioned_at,
        versioned_table_path,
    )

    os.makedirs(checkpoint_dir, exist_ok=True)
    pin_file = os.path.join(checkpoint_dir, "pinned_version.json")
    if os.path.exists(pin_file):
        with open(pin_file) as f:
            pinned = json.load(f)["version"]
    else:
        if version is None:
            live = versioned_table_path(table_root)
            pinned = int(os.path.basename(live)[1:])
        else:
            pinned = int(version)
        fd, tmp = tempfile.mkstemp(dir=checkpoint_dir, prefix="._pin_")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": pinned}, f)
        os.replace(tmp, pin_file)  # atomic: restart sees old pin or new, never half
    # Resolves (and fails loudly) NOW if the pinned version fell out of
    # retention; the directory is immutable once resolved.
    dim = read_versioned_at(spark, table_root, pinned)

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def enrich(batch_df, batch_id: int) -> None:
        (
            batch_df.join(F.broadcast(dim), join_key, "left")
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_substring_scrub(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    ref_docs,
) -> StreamingQuery:
    """Exact-substring scrubbing ON the ingest path (the 16th twin) —
    the removal side of the Lee et al. 2021 family run as a stream
    guard, the way dedup-against-the-existing-corpus actually deploys:
    documents stream in, every micro-batch's docs are cut against the
    STATIC reference corpus's k-gram window hashes (any token covered
    by a window that appears anywhere in the reference is removed), and
    each doc emits (doc_id, n_tok, n_removed, kept_md5) with the
    post-removal text certified by md5 of the kept token sequence. The
    cut kernel is ``dedup.substring_removal_report`` — literally the
    same function the registered batch entry runs, so the ingest scrub
    and the audited removal cannot drift.

    Exactness contract (tested): removal of a doc against a static
    reference depends only on that doc and the reference — no
    cross-batch state — so provided each doc arrives in exactly one
    micro-batch (the file-source guarantee), the union of per-batch
    emissions equals the batch kernel on the union of the input,
    regardless of trigger split. Scale: the reference window-hash set
    is computed ONCE (persisted, distinct hashes only — set size is
    reference-corpus-bounded, join-key-sized rows of one md5 each);
    per trigger the work is window-explode + hash semi-join + per-doc
    rebuild on just that batch's docs; engine-carried state is zero.
    foreachBatch append is at-least-once on trigger retry (same caveat
    as the other twins); dedup downstream on doc_id if exactly-once
    materialization matters.
    """
    from coviddatapipeline_spark.operators.dedup import (
        K_GRAM,
        _tokens,
        kgram_window_structs,
        substring_removal_report,
    )

    ref = (
        ref_docs.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                kgram_window_structs(_tokens(F.col("text")), K_GRAM)
            ).alias("w")
        )
        .select(F.col("w.h").alias("h"))
        .distinct()
        .persist()
    )
    ref.count()  # materialize once, not per trigger

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def scrub(batch_df, batch_id: int) -> None:
        docs = batch_df.filter(F.col("text").isNotNull()).select(
            "doc_id", _tokens(F.col("text")).alias("tk")
        )
        (
            substring_removal_report(docs, ref)
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(scrub)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ivf_cell_assign(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    ref_sf_dir: str,
) -> StreamingQuery:
    """IVF index maintenance ON the embedding-ingest path (the 17th
    twin): the quantizer trains ONCE on the reference corpus (the same
    fixed-point Lloyd loop the registered ``ivf_kmeans_lloyd`` entry
    audits — ``datapipe.km_train_centroids``), then vectors stream in
    and every micro-batch is quantized (``km_quantize``) and assigned
    to its trained coarse cell (``km_assign``), appending
    (vec_id, cluster) — the rows an ANN index's inverted lists ingest.
    All three kernels are shared verbatim with the batch entries, so
    'the model the audit verified' and 'the index the stream builds'
    cannot drift.

    Exactness contract (tested): assignment depends only on the vector
    and the trained centroids — no cross-batch state — so the union of
    per-batch emissions equals the batch assignment of the union,
    regardless of trigger split. Determinism: fixed-point int64 dot
    products, ties to the lowest centroid id (km_assign), so the same
    vector gets the same cell on every engine, every run. Scale: the
    trained model is k x dim ints on the driver (broadcast-literal
    centroids → map-only assignment, no shuffle per trigger);
    non-corpus-dimensional vectors are excluded by the km_quantize
    EMB_DIM gate exactly as in training. foreachBatch append is
    at-least-once on trigger retry; dedup on vec_id downstream if
    exactly-once materialization matters.
    """
    from coviddatapipeline_spark.operators.datapipe import (
        km_assign,
        km_quantize,
        km_train_centroids,
    )

    q, cent = km_train_centroids(spark, ref_sf_dir)
    q.unpersist()  # the twin needs only the trained model

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def assign(batch_df, batch_id: int) -> None:
        (
            km_assign(km_quantize(batch_df), cent)
            .select("vec_id", "cluster")
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(assign)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_kmv_distinct(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """Streaming KMV/theta distinct-count sketches (the 18th twin) —
    the set-cardinality algebra on the INGEST path, the way theta
    sketches actually deploy: events stream in, every micro-batch's
    (event_type, user_id) pairs are sketched with the SAME
    ``sketch.kmv_sketch`` kernel the registered ``sketch_kmv_set_ops``
    entry audits (k smallest 60-bit md5-prefix hashes per type), and
    the k-row per-batch sketches are APPENDED to the sketch store. The
    store IS the state: the current corpus distinct-count estimate is
    ``kmv_estimate(kmv_merge(read(store)))`` at read time, and any two
    stores merge the same way — union across days, sources, or
    clusters costs k log k rows per group, never a data rescan.

    Exactly-once WITHOUT an exactly-once sink: KMV union merge is
    idempotent, commutative and associative (kmv_merge distincts the
    hash rows before re-taking the k smallest), so foreachBatch's
    at-least-once retry semantics are ABSORBED BY THE ALGEBRA — a
    replayed batch appends byte-identical sketch rows that the next
    merge collapses. The counting twins need replay-safe sinks; the
    sketch twin is replay-safe by construction (tested:
    tests/test_streaming.py::test_stream_kmv_distinct_matches_batch
    re-appends a batch's sketch and pins the merged estimate
    unchanged).

    Scale: per trigger the work is one distinct + one k-row window on
    just that batch's keys; engine-carried state is zero; the store
    grows by <= k rows per (type, trigger) — metadata-sized forever —
    and a periodic compaction is just kmv_merge rewritten in place.
    """
    from coviddatapipeline_spark.operators.sketch import (
        KMV_TYPES,
        kmv_sketch,
    )

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def sketch_batch(batch_df, batch_id: int) -> None:
        du = (
            batch_df.filter(
                F.col("user_id").isNotNull()
                & F.col("event_type").isin(*KMV_TYPES)
            )
            .select(
                F.col("event_type").alias("g"), F.col("user_id").alias("u")
            )
            .distinct()
        )
        kmv_sketch(du).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(sketch_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_html_extract(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """HTML main-text extraction ON the ingest path (the 19th twin) —
    the first stage of a crawl pipeline run where it actually runs in
    production: raw pages stream in, every micro-batch is pushed
    through ``text.html_extract_report`` — literally the same JVM-side
    regexp chain the registered ``text_html_extract`` entry audits
    (head/script/style/nav/footer strip, tag strip, spec-ordered
    entity decode, whitespace collapse) — and each doc appends its
    extraction report (byte sizes, token count, md5-certified main
    text, content ratio). Sharing the kernel means the audited batch
    semantics and the ingest-path behavior cannot drift.

    Exactness contract (tested): extraction is per-row and stateless —
    no cross-batch or cross-doc state — so the union of per-batch
    emissions equals the batch kernel on the union of the input for
    ANY trigger split. foreachBatch append is at-least-once on trigger
    retry (same caveat as the other map-only twins); dedup downstream
    on doc_id if exactly-once materialization matters. Scale: pure
    whole-stage-codegen'd column algebra per trigger, zero
    engine-carried state, map-only at any rate.
    """
    from coviddatapipeline_spark.operators.text import html_extract_report

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def extract(batch_df, batch_id: int) -> None:
        html_extract_report(batch_df).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(extract)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_warc_ingest(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """WARC container parsing ON the ingest path (the 20th twin) — the
    Common Crawl arrival shape run where it runs in production: raw
    documents stream in, every micro-batch is pushed through
    ``multimodal.warc_parse_report`` — literally the same gzip-member
    split / WARC-header / HTTP-peel round-trip kernel the registered
    ``mm_warc_record_parse`` entry audits — and each archive appends
    its parse report (member count, Content-Length, md5-certified
    payload, target URI, decode verdict). Sharing the kernel means the
    audited batch semantics and the ingest-path behavior cannot drift;
    chained with ``stream_html_extract`` this is the full
    warc -> html -> text arrival pipeline.

    Exactness contract (tested): parsing is per-archive and stateless,
    so the union of per-batch emissions equals the batch kernel on the
    union of the input for ANY trigger split. foreachBatch append is
    at-least-once on trigger retry (same caveat as the other map-only
    twins); dedup downstream on doc_id if exactly-once materialization
    matters. Scale: map-only Arrow-batched kernel per trigger, zero
    engine-carried state, embarrassingly parallel at any rate.
    """
    from coviddatapipeline_spark.operators.multimodal import warc_parse_report

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def parse(batch_df, batch_id: int) -> None:
        payloads = batch_df.select(
            "doc_id", F.encode("text", "UTF-8").alias("payload")
        )
        warc_parse_report(payloads).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(parse)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_admission(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    weights: list[int],
) -> StreamingQuery:
    """Perceptron admission filtering ON the ingest path (the 21st
    twin) — the place a trained quality classifier actually runs in
    production: documents stream in, every micro-batch is featurized
    and scored with ``datapipe.pct_features`` + ``datapipe.pct_verdicts``
    — literally the same exact-int64 featurization and broadcast-literal
    margin the registered ``quality_perceptron_apply`` entry audits —
    under FROZEN ``weights`` (trained offline by ``pct_train``; the
    train/serve split every production classifier has), and each doc
    appends its admission verdict (pred_en, true_en). A curation
    pipeline admits on pred_en downstream; the audited batch gate and
    the arrival gate cannot drift because they are one kernel.

    Exactness contract (tested): scoring is per-row and stateless —
    frozen weights, no cross-batch state — so the union of per-batch
    emissions equals the batch kernel on the union of the input for
    ANY trigger split. foreachBatch append is at-least-once on trigger
    retry (same caveat as the other map-only twins); dedup downstream
    on doc_id if exactly-once materialization matters. Scale: pure
    whole-stage-codegen'd integer column math per trigger, zero
    engine-carried state, map-only at any rate.
    """
    from coviddatapipeline_spark.operators.datapipe import (
        pct_features,
        pct_verdicts,
    )

    w = [int(x) for x in weights]
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def admit(batch_df, batch_id: int) -> None:
        pct_verdicts(pct_features(batch_df), w).write.mode("append").parquet(
            out_path
        )

    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_binary_ingest(
    spark: SparkSession,
    listing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
) -> StreamingQuery:
    """Real-file binary ingest ON the arrival path (the 22nd twin).

    ``binaryFile`` is not a streaming source in Spark 4, so the twin
    uses the files-listing pattern the round-9 plan proposed (NEXT.md
    open item (a); reference analogue: the continuous CSV-tail framing,
    /root/reference/README.md:81): what STREAMS is the arrival LISTING
    — one row per landed file path, the manifest shape every crawl
    pipeline already produces — and each micro-batch re-reads exactly
    its listed paths through the batch ``binaryFile`` scan, fanned into
    ``multimodal.binary_ingest_report`` — literally the same
    extension-routed tar/WARC/BMP/PNG/GIF/WAV decode kernel the
    registered ``mm_binary_file_ingest`` entry audits — and appends the
    parse report. Audited batch semantics and ingest-path behavior
    cannot drift because they are one kernel.

    The per-batch ``collect()`` gathers file PATHS only — listing rows,
    metadata-sized by construction (it is the same driver-side scale as
    the file-source's own discovered-files log; the blob BYTES never
    touch the driver — binaryFile reads them executor-side).

    Exactness contract (tested): parsing is per-file and stateless, so
    the union of per-batch emissions equals the batch kernel on the
    union of the listings for ANY trigger split. foreachBatch append is
    at-least-once on trigger retry (same caveat as the other map-only
    twins); dedup downstream on file_name if exactly-once
    materialization matters. Scale: per trigger, a path-pruned
    binaryFile scan into a map-only Arrow-batched kernel — no shuffle,
    no engine-carried state, embarrassingly parallel at any arrival
    rate.
    """
    from coviddatapipeline_spark.operators.multimodal import (
        binary_blob_scan,
        binary_ingest_report,
    )

    stream = spark.readStream.schema(schema).parquet(listing_dir)

    def ingest(batch_df, batch_id: int) -> None:
        # metadata-sized: file paths, not file bytes
        paths = [r.path for r in batch_df.select("path").distinct().collect()]
        if not paths:
            return
        binary_ingest_report(binary_blob_scan(spark, paths)).write.mode(
            "append"
        ).parquet(out_path)

    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_unigram_encode(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    vocab: dict[str, int],
) -> StreamingQuery:
    """Unigram-LM tokenization ON the ingest path (the 23rd twin) —
    where a trained tokenizer actually runs in production: documents
    stream in, every micro-batch's words are segmented with
    ``text._uni_best_seg`` — literally the same exact-integer Viterbi
    column DP the registered ``text_unigram_encode`` entry audits —
    under a FROZEN ``vocab`` (trained offline by
    ``text.unigram_train_rounds``; the train/serve split every
    production tokenizer has), and each doc appends its piece count,
    integer score, and token total. The audited batch encoder and the
    arrival-path encoder cannot drift because they are one kernel.

    Exactness contract (tested): segmentation is per-row and stateless
    — frozen vocabulary, no cross-batch state — so the union of
    per-batch emissions equals the batch kernel on the union of the
    input for ANY trigger split. foreachBatch append is at-least-once
    on trigger retry (same caveat as the other map-only twins); dedup
    downstream on doc_id if exactly-once materialization matters.
    Scale: the DP is a pure column expression under a broadcast vocab
    map literal — whole-stage-codegen'd, map-only, no UDF, no shuffle,
    embarrassingly parallel at any arrival rate.
    """
    from coviddatapipeline_spark.operators.text import (
        UNI_MAX_WLEN,
        _tokens,
        _uni_best_seg,
    )

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def encode(batch_df, batch_id: int) -> None:
        words = (
            batch_df.filter(F.col("text").isNotNull())
            .select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
            .filter((F.col("word") != "") & (F.length("word") <= UNI_MAX_WLEN))
        )
        dp = _uni_best_seg("word", vocab)
        (
            words.select("doc_id", dp.alias("dp"))
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_words"),
                # an OOV word (a char outside the frozen vocab's
                # alphabet) is a NULL dp struct; NULL-skipping sums
                # would silently drop it from n_pieces/score, so the
                # serving path surfaces coverage loss explicitly —
                # the same semantics the text_unigram_vocab_coverage
                # audit reports as oov_occ
                F.sum(F.when(F.col("dp").isNull(), F.lit(1)).otherwise(F.lit(0)))
                .cast("long")
                .alias("n_oov"),
                F.sum(F.col("dp")["np"]).cast("long").alias("n_pieces"),
                F.sum(-F.col("dp")["negsc"]).cast("long").alias("score"),
            )
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(encode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_unigram_admission(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    vocab: dict[str, int],
) -> StreamingQuery:
    """Trained-tokenizer admission gate ON the ingest path (the 24th
    twin) — the production guardrail the registered
    ``text_unigram_oov_admission`` entry audits: documents stream in,
    every micro-batch runs through ``text.uni_admission_report`` —
    literally the same per-doc OOV-rate + trained-model-compression
    gate, under a FROZEN ``vocab`` (trained offline by
    ``text.unigram_train_rounds``) — and each doc appends its verdict
    (oov_ppm, cost_p10k, admitted). A curation pipeline admits on
    ``admitted`` downstream; the audited batch gate and the arrival
    gate cannot drift because they are one kernel, and a batch whose
    OOV ppm spikes (alphabet drift, wrong language, binary junk) is
    rejected doc-by-doc with the loss surfaced, never silently
    swallowed. One scoping caveat (ADVICE r11): a doc whose text is
    NULL or contains no words emits no verdict row at all — word-free
    docs are outside the gate's domain (there is nothing to segment)
    and must be rejected upstream by a min-length filter; the batch
    kernel, this twin, and the oracle all drop them identically.

    Exactness contract (tested): the verdict is per-doc and stateless
    — frozen vocabulary and plan-literal thresholds, no cross-batch
    state — so the union of per-batch emissions equals the batch
    kernel on the union of the input for ANY trigger split.
    foreachBatch append is at-least-once on trigger retry (same caveat
    as the other map-only twins); dedup downstream on doc_id if
    exactly-once materialization matters. Scale: explode +
    broadcast-vocab column DP + one map-side-combinable per-doc agg
    per trigger, zero engine-carried state.
    """
    from coviddatapipeline_spark.operators.text import uni_admission_report

    frozen = dict(vocab)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def gate(batch_df, batch_id: int) -> None:
        uni_admission_report(batch_df, frozen).write.mode("append").parquet(
            out_path
        )

    return (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
