"""Event-time windowed aggregation — batch forms and their Structured
Streaming twins (SURVEY.md §2.D; the reference has no streaming at all,
§2.C — this is north-star surface).

Batch keys are oracle-checked; the streaming twin
(``events-streaming-tumbling``) runs a real ``readStream`` →
``groupBy(window(...))`` → memory-sink query to completion and must
equal the batch tumbling aggregation — the strongest check available
for a streaming operator (exactly-once over a finite source).

Scale notes: tumbling/sliding aggs shuffle once on (window, type);
sessionization shuffles once on user_id — the window function and the
grouped agg share the partitioning, so Catalyst plans a single
Exchange.  In true streaming, ``withWatermark`` bounds state; the
helpers expose it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pandasqlite_spark.functions import timeseries as _timeseries
from pandasqlite_spark.operators.common import dsum, load_events, load_events_timeline

SESSION_GAP_MS = 30 * 60 * 1000


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total")
    )


def sliding_agg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )


def sessionize(events: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """Batch sessionization: gap > threshold starts a new session.
    lag + running count over one user_id partitioning (single shuffle)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    new_session = F.when(
        (ms - F.lag(ms).over(w)).isNull() | ((ms - F.lag(ms).over(w)) > gap_ms), 1
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("bigint"),
    )


def session_agg(events: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    return (
        sessionize(events, gap_ms)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total"),
            F.min(F.unix_millis("ts")).alias("start_ms"),
            F.max(F.unix_millis("ts")).alias("end_ms"),
        )
    )


def sessionize_two_phase(
    events: DataFrame, gap_ms: int = SESSION_GAP_MS, chunk_grain: str = "day"
) -> DataFrame:
    """Skew-immune sessionization: identical output to :func:`sessionize`.

    :func:`sessionize` partitions the window by ``user_id`` alone, so a
    mega-user's entire history lands in ONE task — and AQE does not
    split window skew (VERDICT r01).  Here the window runs per
    ``(user_id, time-chunk)`` — task size is bounded by one user-chunk
    of events — then chunk summaries (one tiny row per user-chunk)
    stitch sessions across chunk boundaries:

    - chunk k's first session continues chunk k-1's last session iff
      the boundary gap ``first_ms(k) - last_ms(k-1) <= gap`` (the exact
      complement of the new-session predicate), transitively across
      chunks;
    - each chunk's sessions shift by the running count of *effective*
      new sessions in prior chunks (``n_sessions - merged``).

    Costs one extra (tiny) summary window + a co-partitioned join vs
    the single-phase form — the price of bounding the hot-key task.
    """
    ev = events.withColumn("chunk", F.date_trunc(chunk_grain, "ts"))
    w1 = W.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    new_session = F.when(
        (ms - F.lag(ms).over(w1)).isNull() | ((ms - F.lag(ms).over(w1)) > gap_ms), 1
    ).otherwise(0)
    ev = ev.withColumn(
        "local_sid",
        F.sum(new_session).over(w1.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    summaries = ev.groupBy("user_id", "chunk").agg(
        F.min(ms).alias("first_ms"),
        F.max(ms).alias("last_ms"),
        F.max("local_sid").alias("n_sessions"),
    )
    w2 = W.partitionBy("user_id").orderBy("chunk")
    merged = F.when(
        (F.col("first_ms") - F.lag("last_ms").over(w2)) <= gap_ms, 1
    ).otherwise(0)
    offsets = (
        summaries.withColumn("merged", merged)
        .withColumn(
            "offset",
            F.coalesce(
                F.sum(F.col("n_sessions") - F.col("merged")).over(
                    w2.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("user_id", "chunk", "offset", "merged")
    )
    return (
        ev.join(offsets, ["user_id", "chunk"])
        .withColumn(
            "session_id",
            (F.col("offset") + F.col("local_sid") - F.col("merged")).cast("bigint"),
        )
        .drop("chunk", "local_sid", "offset", "merged")
    )


def session_agg_two_phase(events: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    return (
        sessionize_two_phase(events, gap_ms)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total"),
            F.min(F.unix_millis("ts")).alias("start_ms"),
            F.max(F.unix_millis("ts")).alias("end_ms"),
        )
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style multi-resolution rollup: aggregate once at
    minute grain, then derive the hour grain from the minute partials
    (sums of sums).  At 100 TB the minute table is the only scan of the
    raw data; every coarser resolution reuses it — the continuous-
    aggregate pattern."""
    minute = (
        events.groupBy(
            F.date_trunc("minute", "ts").alias("minute"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        )
    )
    return (
        minute.groupBy(
            F.date_trunc("hour", "minute").alias("hour"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_dec").cast("double").alias("total"),
        )
    )


def q_events_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multires_rollup(load_events(spark, sf_dir))


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(load_events_timeline(spark, sf_dir))


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(load_events_timeline(spark, sf_dir))


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(load_events_timeline(spark, sf_dir))


def q_events_session_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg_two_phase(load_events_timeline(spark, sf_dir))


def funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → purchase per user: the
    earliest view, the earliest click at-or-after it, the earliest
    purchase at-or-after that click.  Output times are epoch micros
    (BIGINT) — engine- and timezone-unambiguous.

    Scale shape: three per-user partial-aggregated groupBys chained by
    equi-joins on ``user_id``; every stage keys on user_id, so the
    exchanges line up (one co-partitioned chain, no broadcast of the
    big side) and the stage inputs shrink monotonically (only users who
    reached the previous step survive each join).
    """
    us = F.unix_micros(F.col("ts"))
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("view_us"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(us >= F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("click_us"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(us >= F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("purchase_us"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "view_us", "click_us", "purchase_us")
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load_events(spark, sf_dir))


def retention_matrix(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later active day as an offset from their cohort day — the
    standard product-analytics triangle.

    Scale shape: one distinct over (user, day) pairs (partial-agg
    shuffle on a shrinking key set), one per-user min-agg, one
    co-partitioned equi-join on user_id, one final small groupBy —
    counts and date arithmetic only, so engine-exact.
    """
    day = F.to_date("ts")
    first_seen = events.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = events.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            # ISO string, not DATE: pandas canonicalizes Spark dates and
            # DuckDB dates differently, so the hash compare needs text
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_matrix(load_events(spark, sf_dir))


def gapfill_hourly(events: DataFrame, day: str = "2024-01-15") -> DataFrame:
    """Dense hourly grid per user for one day: event count (zero-filled)
    and the last observed ``value`` carried forward across empty hours
    — the standard time-series gap-fill (every bucket present, nulls
    forward-filled), which plain groupBy can't produce because empty
    buckets have no input rows.

    Scale shape: the grid is users × 24 (tiny next to the event table)
    built with ``sequence``+``explode``, the per-bucket agg is one
    partial-aggregated shuffle, the fill is a 24-row-deep window per
    user (bounded frame — no mega-partition risk).  The "last value in
    bucket" lookup is a max(epoch)+max(event_id) double join, not a
    nondeterministic ``last()``.
    """
    ev = events.filter(F.to_date("ts") == F.lit(day).cast("date")).select(
        "user_id",
        "event_id",
        "value",
        F.hour("ts").alias("hr"),
        F.unix_micros("ts").alias("us"),
    )
    hours = F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hr")
    grid = ev.select("user_id").distinct().select("user_id", hours)
    per_hour = ev.groupBy("user_id", "hr").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("us").alias("last_us")
    )
    # deterministic last value: latest µs, then highest event_id at that µs
    last_eid = (
        ev.join(per_hour, ["user_id", "hr"])
        .filter(F.col("us") == F.col("last_us"))
        .groupBy("user_id", "hr")
        .agg(F.max("event_id").alias("last_eid"))
    )
    last_val = (
        ev.join(last_eid, ["user_id", "hr"])
        .filter(F.col("event_id") == F.col("last_eid"))
        .select("user_id", "hr", F.col("value").alias("hour_value"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(per_hour.select("user_id", "hr", "n_events"), ["user_id", "hr"], "left")
        .join(last_val, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gapfill_hourly(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# streaming twins
# ---------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (nanos handled the
    same way as the batch reader: ns → µs truncation, then a
    session-timezone-independent hop to a µs-instant TimestampType).
    Real deployments swap this for Kafka; everything downstream is
    source-agnostic."""
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn(
        "ts",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ),
    )


def drop_null_event_time(events: DataFrame) -> DataFrame:
    """An event with no event time cannot be ordered, windowed, or
    watermarked — Spark's own event-time operators drop null-ts rows at
    the watermark; the TIME-ORDERED twins (CEP pattern, attribution)
    apply this explicitly so their stateful pandas processors (which
    int-cast the µs column) never see NaN (NULLS sweep).  Key-based
    twins (dedup, enrich) keep null-ts rows, like their batch
    oracles."""
    return events.filter(F.col("ts").isNotNull())


def streaming_tumbling(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """The streaming twin of :func:`tumbling_agg`.  Watermark bounds
    state for append-mode sinks; with complete mode over a finite
    source the result equals the batch aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total")
    )


def streaming_session_window(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native streaming sessionization via ``session_window`` (dynamic
    windows merged as events arrive; state bounded by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def q_events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the NATIVE ``session_window`` operator (same
    dynamic-merge machinery Structured Streaming uses) — complements the
    lag/running-sum form in :func:`sessionize`.  Boundary semantics
    differ by one instant: ``session_window`` starts a new session when
    the gap is ``>= gap`` (windows ``[t, t+gap)`` must *overlap* to
    merge), while :func:`sessionize` splits strictly on ``> gap`` — the
    oracle encodes the native rule."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("start_ms"),
            F.unix_millis("w.end").alias("end_ms"),
            "n_events",
            "total",
        )
    )


_MEMSINK_SEQ = [0]

# how long a finite query may take to drain to its memory sink before
# it is stopped and the drain raises TimeoutError
STREAM_DRAIN_TIMEOUT_S = 300


def _await_drained(q, name: str, drained) -> None:
    """Poll ``q`` until it ends or its last progress is ``drained``;
    past ``STREAM_DRAIN_TIMEOUT_S``, stop it and raise TimeoutError."""
    deadline = time.time() + STREAM_DRAIN_TIMEOUT_S
    while q.isActive:
        p = q.lastProgress
        if p is not None and drained(p):
            return
        if time.time() >= deadline:
            q.stop()
            raise TimeoutError(
                f"stream to memory sink {name!r} did not drain within "
                f"{STREAM_DRAIN_TIMEOUT_S} s"
            )
        time.sleep(0.2)


def run_stream_to_memory(agg: DataFrame, mode: str = "complete") -> tuple:
    """Drive a finite streaming query to completion against a memory
    sink; returns (result_table_name, query).  A failed query raises its
    ``StreamingQueryException``; one that has not drained within
    ``STREAM_DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError``."""
    _MEMSINK_SEQ[0] += 1
    name = f"stream_result_{_MEMSINK_SEQ[0]}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    # Drain-and-stop, robust to PROCESSING-TIME timers: an availableNow
    # query with armed timers (applyInPandasWithState eviction) never
    # self-terminates — the engine schedules empty batch after empty
    # batch hoping to fire them — and processAllAvailable never latches
    # either.  The old awaitTermination(120) therefore burned its full
    # cap every run (the 120s SLOW flag in SWEEP_r05) and returned a
    # racy "probably complete" table.  Instead: poll progress until a
    # completed batch consumed 0 input rows (the source is drained and
    # committed — only timer no-ops remain), then stop explicitly.
    # Timer-free queries simply self-terminate and exit the loop.
    _await_drained(q, name, lambda p: p["numInputRows"] == 0)
    q.stop()
    q.awaitTermination(60)
    return name, q


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """Queries started inside use the RocksDB state store, whose column
    families ``transformWithStateInPandas`` needs; the provider set
    before is restored on exit."""
    prev = spark.conf.get(_STATE_STORE_CONF, None)
    spark.conf.set(_STATE_STORE_CONF, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE_CONF)
        else:
            spark.conf.set(_STATE_STORE_CONF, prev)


def run_stream_foreach_batch_parquet(df: DataFrame, out_dir: str) -> None:
    """The production sink pattern: ``foreachBatch`` hands each
    micro-batch over as a *batch* DataFrame, so any batch writer (here:
    parquet partitioned by batch id) becomes a streaming sink.
    Exactly-once comes from the checkpoint (batch ids replay
    deterministically) + an idempotent write (mode=overwrite into the
    batch's own directory).  A query still running after
    ``STREAM_DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError``,
    so no caller reads a directory that is still being written."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"foreachBatch stream to {out_dir!r} did not finish within "
            f"{STREAM_DRAIN_TIMEOUT_S} s"
        )


def q_events_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = streaming_tumbling(read_events_stream(spark, sf_dir))
    name, q = run_stream_to_memory(agg, mode="complete")
    return spark.table(name)


def q_events_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-sliding-agg``: overlapping 2h/1h
    windows over the stream — each event updates BOTH windows covering
    it, watermark-bounded state, complete-mode drain; shares the batch
    key's oracle (per-window counts and decimal sums are positional-
    pick-free, so micro-batch boundaries can't reorder anything)."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "3 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )
    name, _ = run_stream_to_memory(agg, mode="complete")
    return spark.table(name)


def q_events_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-ohlc``: the same struct-extreme
    open/high/low/close aggregation as a Structured Streaming query —
    positional first/last picks work unchanged in streaming state
    because min/max over ``struct(us, event_id, value)`` is an ordinary
    orderable aggregate (no ordering-sensitive ``first()``, which
    streaming would make nondeterministic across micro-batches).
    Hour windows align to the epoch, so ``unix_micros(w.start)/3.6e9``
    reproduces the batch form's integer ``hr_bucket`` and the key
    shares the batch oracle."""
    stream = read_events_stream(spark, sf_dir)
    ev = stream.withColumn("us", F.unix_micros("ts"))
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.min(F.struct("us", "event_id", "value")).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("us", "event_id", "value")).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            (F.unix_micros(F.col("w.start")) / 3_600_000_000).cast("bigint").alias("hr_bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    name, q = run_stream_to_memory(agg, mode="complete")
    return spark.table(name).select(
        "user_id", "hr_bucket", "open", "high", "low", "close", "n_events"
    )


def q_events_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-session-window-native``: the SAME
    ``session_window`` aggregation run as a Structured Streaming query
    (dynamic windows merged as micro-batches arrive, state bounded by
    the watermark) — drained with availableNow so the finite stream
    emits every closed session.  Oracle = the batch form's oracle with
    the value column projected the same way."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("start_ms"),
            F.unix_millis("w.end").alias("end_ms"),
            "n_events",
            "total",
        )
    )
    name, q = run_stream_to_memory(agg, mode="complete")
    return spark.table(name)


def streaming_view_purchase_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: each view joined to purchases by the
    same user within ``horizon`` after it.  Watermarks on BOTH sides
    plus the event-time range condition let Spark expire join state —
    the memory-bounded form of stream-stream join (state per user is
    limited to the horizon + watermark slack, instead of the whole
    stream)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"interval {horizon}")),
    ).select("user_id", "view_id", "purchase_id")


def q_events_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode stream-stream join driven to completion; over the
    finite source the result equals the batch range join (the oracle)."""
    joined = streaming_view_purchase_join(read_events_stream(spark, sf_dir))
    name, q = run_stream_to_memory(joined, mode="append")
    return spark.table(name)


def q_events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicates`` keyed by
    event_id with a watermark bounding the dedup state.  Each id is
    emitted once across all micro-batches — the ingestion-side guard
    every at-least-once source (Kafka, file drops) needs."""
    ev = read_events_stream(spark, sf_dir)
    # duplicate the input stream (union with itself) to prove dedup
    deduped = (
        ev.unionByName(ev)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "event_type")
    )
    name, q = run_stream_to_memory(deduped, mode="append")
    return spark.table(name)


def q_events_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState operator driven to completion: final
    per-user profile (event count, last-seen ms).  Update mode may emit
    interim rows across micro-batches, so the final state per user is
    the max — with the finite one-file source there is one batch, but
    the reduction keeps the key deterministic under any batching.
    ``total`` (a float accumulated in pandas, order-dependent) is
    deliberately excluded from the checked columns."""
    from pandasqlite_spark.streaming.stateful import user_profiles_stream

    # evict=False: finite drain — processing-time timers would keep the
    # availableNow query alive forever (see user_profiles_stream)
    stream = user_profiles_stream(read_events_stream(spark, sf_dir), evict=False)
    name, _ = run_stream_to_memory(stream, mode="update")
    return _final_profiles(spark.table(name))


def _final_profiles(updates: DataFrame) -> DataFrame:
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("last_ms").alias("last_ms")
    )


def q_events_stateful_profiles_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events-stateful-profiles`` on Spark 4's
    ``transformWithStateInPandas`` over the RocksDB state store, with
    the same final-state reduction and the same oracle.  Raises where
    the streaming Python runner cannot start."""
    from pandasqlite_spark.streaming.stateful import user_profiles_stream_tws

    with _rocksdb_state_store(spark):
        stream = user_profiles_stream_tws(read_events_stream(spark, sf_dir))
        name, _ = run_stream_to_memory(stream, mode="update")
    return _final_profiles(spark.table(name))


def q_events_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution driven to completion: per-user
    last-click state credits purchases as they arrive; the result must
    hash-match the BATCH window formulation (functions/analytics.py
    last_touch_attribution) via the shared oracle.  evict=False for the
    finite drain (timers block availableNow termination)."""
    from pandasqlite_spark.streaming.stateful import attribution_stream

    stream = attribution_stream(
        drop_null_event_time(read_events_stream(spark, sf_dir)), evict=False
    )
    name, _ = run_stream_to_memory(stream, mode="append")
    return spark.table(name).orderBy("purchase_id")


def q_events_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics PROVEN, not just configured: the
    stream arrives as three ordered files — days 1-20, days 21-25,
    then days 26-30 plus deliberately-late probe rows (day-5 copies
    with offset ids).  The day-5 windows are emitted AND their state
    evicted during batch 2 (watermark = day-20 max − 1h); when the
    probes arrive in batch 3 the watermark stands at day-25 max − 1h,
    so the aggregation must DROP them — if it instead recreated state,
    append mode would re-emit the day-5 windows (duplicate rows), and
    if it merged them the counts would inflate; either way the oracle
    hash breaks.  (Two files would NOT prove the drop: a late row
    arriving in the same batch that finalizes its window legally joins
    the still-live state — observed empirically.)  The expected result
    is the original rows' hourly counts for windows finalized by the
    end-of-stream watermark, computed by the oracle from the batch
    table.

    Times ride as unix-micro bigints through the files (no parquet
    timestamp-unit or timezone dependence); Spark's watermark math is
    millisecond-precision, which the oracle mirrors."""
    import os

    from pandasqlite_spark.operators.common import load_events, scratch_dir

    ev = load_events(spark, sf_dir).select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    cut = F.lit("2024-01-21").cast("date")
    base = scratch_dir("latedrop")
    in_dir = os.path.join(base, "in")
    day = F.timestamp_micros(F.col("us")).cast("date")
    cut2 = F.lit("2024-01-26").cast("date")
    b0 = ev.filter(day < cut)
    b1 = ev.filter((day >= cut) & (day < cut2))
    probes = ev.filter(day == F.lit("2024-01-05").cast("date")).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "us"
    )
    b2 = ev.filter(day >= cut2).unionByName(probes)
    # the file source does not recurse into non-partition subdirs:
    # write each batch aside, then move its single part file into the
    # watched dir as a flat file.  Ordering is by modification time
    # (kept within maxFileAge of the newest, else the source silently
    # ignores the older file).
    import shutil

    os.makedirs(in_dir, exist_ok=True)
    for frame, fname, age_s in (
        (b0, "b0.parquet", 120),
        (b1, "b1.parquet", 60),
        (b2, "b2.parquet", 0),
    ):
        side = os.path.join(base, "side_" + fname)
        frame.coalesce(1).write.mode("overwrite").parquet(side)
        part = next(
            p for p in os.listdir(side)
            if p.endswith(".parquet") and not p.startswith(".")
        )
        dest = os.path.join(in_dir, fname)
        shutil.move(os.path.join(side, part), dest)
        t = time.time() - age_s
        os.utime(dest, (t, t))
    stream = (
        spark.readStream.schema("event_id bigint, us bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
        .withColumn("ts", F.timestamp_micros("us"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("win_start_us"), "n")
    )
    # availableNow terminates after the last DATA batch, but append-mode
    # emission of watermark-finalized windows happens in the FOLLOWING
    # (empty) batch — drive with a tight processing-time trigger and
    # stop only after a completed zero-input batch has flushed them.
    _MEMSINK_SEQ[0] += 1
    name = f"stream_result_{_MEMSINK_SEQ[0]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    _await_drained(q, name, lambda p: p["numInputRows"] == 0 and p["batchId"] > 1)
    q.stop()
    q.awaitTermination(30)
    return spark.table(name).orderBy("win_start_us")


def q_events_streaming_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-pattern-match`` (functions/
    analytics.py): the click→purchase→error ≤24h detector as an
    ``applyInPandasWithState`` per-user state machine carrying only the
    last two events per key.  Shares the batch key's oracle — the
    driver's value-hash equality IS the batch-equivalence proof."""
    from pandasqlite_spark.streaming.stateful import sequence_match_stream

    # evict=False: finite drain (timers block availableNow termination)
    stream = sequence_match_stream(
        drop_null_event_time(read_events_stream(spark, sf_dir)), evict=False
    )
    name, _ = run_stream_to_memory(stream, mode="append")
    return spark.table(name).orderBy("user_id", "start_id")


def q_events_streaming_pattern_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CEP pattern detector on Spark 4's
    ``transformWithStateInPandas`` (typed named state, RocksDB column
    families), sharing the batch key's oracle like the
    ``applyInPandasWithState`` twin.  The new API needs the streaming
    Python runner (google.protobuf — enabled process-wide by
    ``session.enable_spark4_stateful_runner``); where it cannot start,
    the drain raises the query's ``StreamingQueryException``."""
    from pandasqlite_spark.streaming.stateful import sequence_match_stream_tws

    with _rocksdb_state_store(spark):
        stream = sequence_match_stream_tws(
            drop_null_event_time(read_events_stream(spark, sf_dir))
        )
        name, _ = run_stream_to_memory(stream, mode="append")
    return spark.table(name).orderBy("user_id", "start_id")


def q_events_streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-rate-limit``: throttle to the first
    event per (user, type, minute) as a watermark-bounded windowed
    aggregation.  The positional "first" is the same
    ``min(struct(us, event_id))`` orderable aggregate as the OHLC
    twins — deterministic across micro-batch boundaries, where a
    ``first()`` would depend on arrival order.  State per key is one
    struct; the 2-minute watermark evicts closed minutes.  Shares the
    batch key's oracle."""
    agg = streaming_rate_limit(read_events_stream(spark, sf_dir))
    name, _ = run_stream_to_memory(agg, mode="complete")
    return spark.table(name)


def streaming_rate_limit(stream: DataFrame) -> DataFrame:
    """The rate-limit aggregation over any events stream — split out so
    the arrival-order tests can drive it from a shuffled file source."""
    ev = stream.withColumn("us", F.unix_micros("ts"))
    return (
        ev.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "user_id", "event_type")
        .agg(
            F.min(F.struct("us", "event_id")).getField("event_id").alias(
                "kept_event_id"
            ),
            (F.count(F.lit(1)) - 1).alias("n_suppressed"),
        )
        .select(
            "user_id",
            "event_type",
            (F.unix_micros(F.col("w.start")) / 60_000_000)
            .cast("bigint")
            .alias("win_bucket"),
            "kept_event_id",
            "n_suppressed",
        )
    )


def q_events_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the third streaming join shape
    after stream-stream (`events-streaming-join`) and streaming dedup:
    each incoming event is joined against a STATIC user-profile
    dimension (per-user activity tier, built batch-side once).  A
    stream-static inner join is stateless — no watermark, no join
    state, the static side is just broadcast into every micro-batch —
    which is why it's the standard pattern for dimension enrichment at
    ingest time (Kafka stream ⋈ broadcast user table).  The rolled-up
    per-tier totals run in complete mode; the batch oracle is the same
    join + aggregation over the batch table."""
    batch = load_events(spark, sf_dir)
    profile = (
        batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .select(
            "user_id",
            F.when(F.col("n_total") >= 100, "heavy")
            .when(F.col("n_total") >= 50, "mid")
            .otherwise("light")
            .alias("tier"),
        )
    )
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.join(F.broadcast(profile), "user_id")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    name, _ = run_stream_to_memory(agg, mode="complete")
    return spark.table(name)


QUERIES = {
    "events-multires-rollup": q_events_multires,
    "events-streaming-enrich": q_events_streaming_enrich,
    "events-streaming-rate-limit": q_events_streaming_rate_limit,
    "events-stateful-profiles": q_events_stateful_profiles,
    "events-stateful-profiles-tws": q_events_stateful_profiles_tws,
    "events-streaming-attribution": q_events_streaming_attribution,
    "events-streaming-pattern": q_events_streaming_pattern,
    "events-streaming-pattern-tws": q_events_streaming_pattern_tws,
    "events-streaming-late-drop": q_events_streaming_late_drop,
    "events-tumbling-agg": q_events_tumbling,
    "events-sliding-agg": q_events_sliding,
    "events-session-agg": q_events_session,
    "events-session-window-native": q_events_session_window_native,
    "events-session-two-phase": q_events_session_two_phase,
    "events-funnel": q_events_funnel,
    "events-retention": q_events_retention,
    "events-gapfill": q_events_gapfill,
    "events-streaming-tumbling": q_events_streaming_tumbling,
    "events-streaming-sliding": q_events_streaming_sliding,
    "events-streaming-ohlc": q_events_streaming_ohlc,
    "events-streaming-session": q_events_streaming_session,
    "events-streaming-join": q_events_streaming_join,
    "events-streaming-dedup": q_events_streaming_dedup,
}

_TUMBLING_ORACLE = """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""

ORACLES = {
    # stream-static join twin: the static profile is derived from the
    # same finite table, so the batch form is an exact oracle
    "events-streaming-enrich": """
        WITH prof AS (
          SELECT user_id,
                 CASE WHEN COUNT(*) >= 100 THEN 'heavy'
                      WHEN COUNT(*) >= 50 THEN 'mid'
                      ELSE 'light' END AS tier
          FROM events GROUP BY user_id)
        SELECT tier, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events JOIN prof USING (user_id)
        GROUP BY tier
    """,
    # sums-of-sums over minute partials == direct hourly aggregation:
    # the oracle IS the direct form, proving the rollup composition
    "events-multires-rollup": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    """,
    "events-tumbling-agg": _TUMBLING_ORACLE,
    # batch equivalent of the finite stream-stream join; epoch_us on
    # both sides pins the same µs truncation Spark applies to ns input
    "events-streaming-join": """
        SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id
        FROM events a JOIN events b
          ON b.user_id = a.user_id
         AND a.event_type = 'view' AND b.event_type = 'purchase'
         AND epoch_us(b.ts) BETWEEN epoch_us(a.ts)
                                AND epoch_us(a.ts) + 3600000000
    """,
    "events-streaming-dedup": "SELECT event_id, event_type FROM events",
    # epoch_us on the DuckDB side matches Spark's unix_micros after the
    # shared ns→µs truncation in load_events
    "events-funnel": """
        WITH v AS (
          SELECT user_id, MIN(epoch_us(ts)) AS view_us
          FROM events WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.view_us
          GROUP BY 1),
        p AS (
          SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.click_us
          GROUP BY 1)
        SELECT v.user_id, v.view_us, c.click_us, p.purchase_us
        FROM v LEFT JOIN c ON c.user_id = v.user_id
               LEFT JOIN p ON p.user_id = v.user_id
    """,
    "events-gapfill": """
        WITH ev AS (
          SELECT user_id, event_id, value,
                 CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
                 epoch_us(ts) AS us
          FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'),
        grid AS (
          SELECT u.user_id, g.hr
          FROM (SELECT DISTINCT user_id FROM ev) u,
               (SELECT CAST(unnest(generate_series(0, 23)) AS INTEGER) AS hr) g),
        per_hour AS (
          SELECT user_id, hr, COUNT(*) AS n_events, MAX(us) AS last_us
          FROM ev GROUP BY 1, 2),
        last_eid AS (
          SELECT e.user_id, e.hr, MAX(e.event_id) AS last_eid
          FROM ev e JOIN per_hour p
            ON p.user_id = e.user_id AND p.hr = e.hr AND e.us = p.last_us
          GROUP BY 1, 2),
        last_val AS (
          SELECT e.user_id, e.hr, e.value AS hour_value
          FROM ev e JOIN last_eid l
            ON l.user_id = e.user_id AND l.hr = e.hr
           AND e.event_id = l.last_eid)
        SELECT g.user_id, g.hr,
               COALESCE(p.n_events, 0) AS n_events,
               last_value(lv.hour_value IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS filled_value
        FROM grid g LEFT JOIN per_hour p
               ON p.user_id = g.user_id AND p.hr = g.hr
             LEFT JOIN last_val lv
               ON lv.user_id = g.user_id AND lv.hr = g.hr
    """,
    "events-retention": """
        WITH fs AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY 1),
        act AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        SELECT CAST(fs.cohort_day AS VARCHAR) AS cohort_day,
               CAST(date_diff('day', fs.cohort_day, act.day) AS INTEGER)
                 AS day_offset,
               COUNT(*) AS n_active
        FROM act JOIN fs USING (user_id)
        GROUP BY 1, 2
    """,
    "events-sliding-agg": """
        WITH shifted AS (
          SELECT date_trunc('hour', ts) AS win_start, event_type, value
          FROM events WHERE ts IS NOT NULL
          UNION ALL
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
          FROM events WHERE ts IS NOT NULL)
        SELECT win_start, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM shifted GROUP BY 1, 2
    """,
    "events-session-agg": f"""
        WITH flagged AS (
          SELECT user_id, event_id, value, ts,
                 CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w IS NULL
                        OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
                      THEN 1 ELSE 0 END AS new_session
          FROM events WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, event_id, value, ts,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM flagged)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
               MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms
        FROM sessions GROUP BY user_id, session_id
    """,
    "events-streaming-tumbling": _TUMBLING_ORACLE,
    # shares the batch OHLC oracle: hour windows align to the epoch,
    # so unix_micros(w.start)/3.6e9 == floor(epoch_us/3.6e9)
    "events-streaming-ohlc": _timeseries.ORACLES["events-ohlc"].replace(
        "FROM events)", "FROM events WHERE ts IS NOT NULL)", 1
    ),
    # micro-batch boundaries must not change the positional pick —
    # identical semantics to the batch throttle by construction
    "events-streaming-rate-limit": _timeseries.ORACLES["events-rate-limit"].replace(
        "FROM events)", "FROM events WHERE ts IS NOT NULL)", 1
    ),
    # native session_window semantics: split on gap >= 30min (not >),
    # window end = last event + gap
    "events-session-window-native": f"""
        WITH flagged AS (
          SELECT user_id, event_id, value, ts,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                           >= {SESSION_GAP_MS} * 1000
                      THEN 1 ELSE 0 END AS new_session
          FROM events WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        sessions AS (
          SELECT user_id, value, ts,
                 SUM(new_session) OVER (PARTITION BY user_id
                      ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, MIN(epoch_ms(ts)) AS start_ms,
               MAX(epoch_ms(ts)) + {SESSION_GAP_MS} AS end_ms,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM sessions GROUP BY user_id, sid
    """,
}

# identical semantics by construction — the two-phase form must match
# the SAME oracle as the single-phase window
ORACLES["events-session-two-phase"] = ORACLES["events-session-agg"]
# the streaming session_window drain must equal the batch session_window
ORACLES["events-streaming-session"] = ORACLES["events-session-window-native"]
# the sliding-window stream drain must equal the batch sliding agg
ORACLES["events-streaming-sliding"] = ORACLES["events-sliding-agg"]
# the streaming CEP state machine must equal the batch lead-window form
from pandasqlite_spark.functions.analytics import ORACLES as _AN_ORACLES  # noqa: E402

ORACLES["events-streaming-pattern"] = _AN_ORACLES["events-pattern-match"]
# Spark-4 transformWithStateInPandas twin: same contract, same oracle
ORACLES["events-streaming-pattern-tws"] = _AN_ORACLES["events-pattern-match"]

ORACLES["events-streaming-late-drop"] = """
    WITH u AS (SELECT epoch_us(ts) AS us FROM events),
    mx AS (SELECT (MAX(us) // 1000) AS mx_ms FROM u),
    w AS (
      SELECT (us // 3600000000) AS win, COUNT(*) AS n
      FROM u GROUP BY 1)
    SELECT w.win * 3600000000 AS win_start_us, w.n
    FROM w, mx
    WHERE (w.win + 1) * 3600000 <= mx.mx_ms - 3600000
    ORDER BY win_start_us
"""

ORACLES["events-stateful-profiles"] = """
    SELECT user_id, COUNT(*) AS n_events,
           MAX(epoch_ms(ts)) AS last_ms
    FROM events GROUP BY user_id
"""
# Spark-4 typed-state twin: same contract, same oracle
ORACLES["events-stateful-profiles-tws"] = ORACLES["events-stateful-profiles"]


ORACLES["events-streaming-attribution"] = """
    WITH sub AS (
      SELECT user_id, event_id, ts, event_type FROM events
      -- ts IS NOT NULL: a stream cannot order, watermark, or attribute
      -- an event with no event time (drop_null_event_time at the
      -- source); the BATCH attribution key keeps its own oracle and
      -- its own null-ts semantics
      WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL),
    w AS (
      SELECT user_id, event_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'click'
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS click_us,
             LAST_VALUE(CASE WHEN event_type = 'click'
                             THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS click_id
      FROM sub)
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN click_us IS NOT NULL
                     AND epoch_us(ts) - click_us <= 259200000000
                THEN click_id END AS attributed_click_id,
           CASE WHEN click_us IS NOT NULL
                     AND epoch_us(ts) - click_us <= 259200000000
                THEN (epoch_us(ts) - click_us) // 1000000 END AS gap_s
    FROM w WHERE event_type = 'purchase'
    ORDER BY purchase_id
"""


def lateness_profile(events: DataFrame) -> DataFrame:
    """Event-lateness profile — the measurement that SIZES a watermark
    instead of guessing it: per event, lateness = (max event-time seen
    so far in arrival order) − its own event-time; the histogram of
    minute-bucketed lateness plus the running share tells you exactly
    what fraction of events a ``withWatermark("N minutes")`` would
    drop.  (Arrival order stands in as ``event_id`` — the generator's
    ingestion sequence.)

    Scale shape: ONE global arrival-ordered running-max window (at
    100 TB: range-partition by arrival time — the running max is
    prefix-decomposable), then a partial-aggregated minute-bucket
    groupBy; everything integral (microsecond diffs, counts)."""
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, 0)
    late = events.select(
        (F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("late_us")
    )
    bucket = F.floor(F.col("late_us") / 60_000_000).cast("bigint")
    hist = late.groupBy(bucket.alias("late_min")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = W.partitionBy()
    wcum = W.orderBy("late_min").rowsBetween(W.unboundedPreceding, 0)
    # cum/total TERMINATES in ≤7 decimal digits whenever total divides a
    # power of ten (sf10: total = 10M ⇒ every cum ≡ 5 (mod 10) is an
    # EXACT decimal midpoint), and round-on-double at exact midpoints is
    # the one place engine conventions differ (Spark rounds the shortest
    # decimal half-up, DuckDB rounds the binary value).  Round in exact
    # integer arithmetic instead: floor((cum·2e6 + total) / (2·total))
    # is half-up at 6 decimals, bit-identical everywhere; the final /1e6
    # maps the same integer to the same double on both engines.
    return (
        hist.select(
            "late_min",
            "n",
            F.sum("n").over(wcum).alias("cum"),
            F.sum("n").over(wtot).alias("total"),
        )
        .select(
            "late_min",
            "n",
            (
                F.expr("(cum * 2000000 + total) div (2 * total)").cast("double")
                / F.lit(1000000.0)
            ).alias("cum_share"),
        )
        .orderBy("late_min")
    )


def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lateness_profile(load_events_timeline(spark, sf_dir))


QUERIES["events-lateness-profile"] = q_events_lateness_profile

ORACLES["events-lateness-profile"] = """
    WITH late AS (
      SELECT MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                     ROWS UNBOUNDED PRECEDING)
             - epoch_us(ts) AS late_us
      FROM events WHERE ts IS NOT NULL),
    hist AS (
      SELECT CAST(late_us // 60000000 AS BIGINT) AS late_min, COUNT(*) AS n
      FROM late GROUP BY 1),
    c AS (
      SELECT late_min, n,
             CAST(SUM(n) OVER (ORDER BY late_min ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum,
             CAST(SUM(n) OVER () AS BIGINT) AS total
      FROM hist)
    -- integer half-up at 6 decimals (see the engine comment: exact
    -- decimal midpoints make round-on-double engine-dependent)
    SELECT late_min, n,
           CAST((cum * 2000000 + total) // (2 * total) AS DOUBLE)
             / 1000000.0 AS cum_share
    FROM c ORDER BY late_min
"""


def q_events_streaming_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-heatmap-hour-weekday``: the same
    ≤168-cell hour×weekday count matrix maintained over the stream.
    No time window is involved — complete-mode output of an arbitrary
    grouped aggregation, the smallest stateful-streaming shape there
    is (state = the 168 cells, constant forever).  The share-of-total
    column is computed batch-side over the drained cells: a global
    ratio is not incrementally emittable row-by-row anyway, and the
    168-row post-step costs nothing.  Shares the batch key's oracle."""
    stream = read_events_stream(spark, sf_dir)
    cells = stream.select(
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("weekday"),
        F.hour("ts").alias("hour"),
    ).groupBy("weekday", "hour").agg(F.count(F.lit(1)).alias("n"))
    name, _ = run_stream_to_memory(cells, mode="complete")
    t = spark.table(name)
    total = W.partitionBy()
    # integer half-up share, same exact-midpoint reasoning as the
    # batch twin (hour_weekday_heatmap) whose oracle this key shares
    return (
        t.withColumn("total", F.sum("n").over(total))
        .select(
            "weekday",
            "hour",
            "n",
            (
                F.expr("(n * 2000000 + total) div (2 * total)").cast("double")
                / F.lit(1000000.0)
            ).alias("share"),
        )
        .orderBy("weekday", "hour")
    )


QUERIES["events-streaming-heatmap"] = q_events_streaming_heatmap

from pandasqlite_spark.functions.analytics import ORACLES as _HM_ORACLES  # noqa: E402

ORACLES["events-streaming-heatmap"] = _HM_ORACLES["events-heatmap-hour-weekday"]


def q_events_streaming_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events-slo-burn``: the per-hour
    total/error counts are maintained by a complete-mode streaming
    aggregation (state = |hours| rows, bounded by the calendar), and
    the two burn windows + alert flags are computed batch-side over
    the drained hour series — trailing-frame ratios over a global
    order are not row-incremental, and the post-step is |hours| rows.
    This is exactly how a production burn alerter runs: streaming
    keeps the counters, the alert evaluation ticks over the tiny
    aggregate.  Shares the batch key's oracle AND its gap-fill +
    burn post-step (``slo_burn_from_hours``), so both twins carry
    the same six-wall-clock-hour slow-window semantics."""
    from pandasqlite_spark.functions.analytics import slo_burn_from_hours

    stream = read_events_stream(spark, sf_dir)
    hours = stream.groupBy(
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("bigint").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    name, _ = run_stream_to_memory(hours, mode="complete")
    return slo_burn_from_hours(spark.table(name))


QUERIES["events-streaming-slo-burn"] = q_events_streaming_slo_burn

from pandasqlite_spark.functions.analytics import ORACLES as _SLO_ORACLES  # noqa: E402

ORACLES["events-streaming-slo-burn"] = _SLO_ORACLES["events-slo-burn"]
