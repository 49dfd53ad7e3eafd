"""Custom stateful streaming operators, each one state machine run on
two Spark APIs.

The escape hatch for stateful semantics Spark's built-in windowed
aggregations can't express (SURVEY.md §2.D): user-defined per-key state
machines.  Two operators run on both ``applyInPandasWithState`` (one
positional state tuple per key, processing-time timeout eviction) and
Spark 4's ``transformWithStateInPandas`` (typed, named ``ValueState``):

- the per-user running profile (event count, value sum, last-seen):
  one fold, :func:`_fold_profile`;
- the click → purchase → error CEP detector carrying the last two
  events per user: one step, :func:`_cep_step`.

Both steps are pure pandas; each API wrapper only reads and writes its
own state (and, on ``applyInPandasWithState``, handles the timeout).
Last-touch attribution runs on ``applyInPandasWithState`` only.

State is partitioned by key (one shuffle), bounded by eviction, and
Arrow-batched per group — the scalable form of "custom operator" when
(a) composition of built-ins and (b) stateless pandas UDFs don't fit.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total double, last_ms bigint"
STATE_SCHEMA = "n bigint, total double, last_ms bigint"


def _fold_profile(
    user_id: int, profile: tuple | None, pdfs: Iterable[pd.DataFrame]
) -> tuple[tuple, pd.DataFrame]:
    """Fold a batch into one user's (n, total, last_ms) profile;
    returns the new profile and its output row."""
    n, total, last_ms = (0, 0.0, 0) if profile is None else profile
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ms = max(last_ms, int(pdf["ms"].max()))
    row = pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total": [total], "last_ms": [last_ms]}
    )
    return (n, total, last_ms), row


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    profile, row = _fold_profile(user_id, state.get if state.exists else None, pdfs)
    state.update(profile)
    try:
        state.setTimeoutDuration(60 * 60 * 1000)  # evict after 1h idle
    except PySparkRuntimeError:
        # NoTimeout runs (finite drains) reject timer registration —
        # eviction is a production-stream concern only
        pass
    yield row


def user_profiles_stream(events: DataFrame, evict: bool = True) -> DataFrame:
    """events (streaming, with ts) → per-user running profile rows.

    ``evict=True`` (production) registers a 1h-idle processing-time
    timeout so stale users leave the state store.  Pass ``evict=False``
    for FINITE drains: with processing-time timers armed, an
    availableNow query never self-terminates (the engine schedules
    empty batch after empty batch hoping to fire the timers — observed
    as the 120s-per-run cap-out in SWEEP_r05) and even
    ``processAllAvailable`` doesn't latch; with NoTimeout the drain
    completes in one data batch."""
    from pyspark.sql import functions as F

    with_ms = events.withColumn("ms", F.unix_millis("ts"))
    return (
        with_ms.groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------- CEP

CEP_OUT_SCHEMA = "user_id bigint, start_id bigint, span_s double"
# carried context: the last two events per user, as parallel fields
CEP_STATE_SCHEMA = (
    "t1 string, us1 bigint, id1 bigint, t2 string, us2 bigint, id2 bigint"
)
_CEP_BOUND_US = 86_400 * 1_000_000  # pattern must complete within a day


def _cep_step(
    user_id: int, ctx: tuple | None, pdfs: Iterable[pd.DataFrame]
) -> tuple[pd.DataFrame, tuple] | None:
    """click → purchase → error (consecutive, ≤24h) over one batch of
    one user's events; returns the matches and the new context, or
    None for an empty batch (the context is then unchanged).

    Vectorized inside the group: the carried last-2-events context
    ``ctx`` is prepended to the (ts, event_id)-sorted batch, the three
    pattern slots come from ``shift(2)/shift(1)/current``, and only rows
    belonging to the new batch may END a match (carry rows are context
    from prior batches — their matches were already emitted)."""
    # materialize before concat: pd.concat([]) raises ValueError
    dfs = list(pdfs)
    if not dfs:
        return None
    batch = pd.concat(dfs, ignore_index=True)
    if len(batch) == 0:
        return None
    batch = batch.sort_values(["us", "event_id"], ignore_index=True)
    t1, us1, id1, t2, us2, id2 = (None, 0, 0, None, 0, 0) if ctx is None else ctx
    carry = pd.DataFrame(
        {"event_type": [t1, t2], "us": [us1, us2], "event_id": [id1, id2]}
    ).dropna(subset=["event_type"])
    rows = pd.concat([carry, batch], ignore_index=True)
    p1us = rows["us"].shift(2)
    mask = (
        (rows["event_type"].shift(2) == "click")
        & (rows["event_type"].shift(1) == "purchase")
        & (rows["event_type"] == "error")
        & (rows["us"] - p1us <= _CEP_BOUND_US)
        & (rows.index >= len(carry))
    )
    tail = rows.tail(2)
    tt = list(tail["event_type"])
    tu = list(tail["us"].astype("int64"))
    ti = list(tail["event_id"].astype("int64"))
    if len(tail) == 2:
        new_ctx = (tt[0], tu[0], ti[0], tt[1], tu[1], ti[1])
    else:
        new_ctx = (None, 0, 0, tt[0], tu[0], ti[0])
    n_hits = int(mask.sum())
    matches = pd.DataFrame(
        {
            # .to_numpy(): the masked series keep their original
            # positional index — mixing them with a fresh 0..n-1
            # index would misalign and NaN-pad the frame
            "user_id": pd.Series([user_id] * n_hits, dtype="int64"),
            "start_id": rows["event_id"].shift(2)[mask].astype("int64").to_numpy(),
            "span_s": ((rows["us"][mask] - p1us[mask]) / 1_000_000.0).to_numpy(),
        }
    )
    return matches, new_ctx


def _detect_sequence(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    step = _cep_step(user_id, state.get if state.exists else None, pdfs)
    if step is None:
        return
    matches, ctx = step
    state.update(ctx)
    try:
        state.setTimeoutDuration(24 * 60 * 60 * 1000)
    except PySparkRuntimeError:
        pass  # NoTimeout finite drains reject timer registration
    yield matches


def sequence_match_stream(events: DataFrame, evict: bool = True) -> DataFrame:
    """Streaming twin of :func:`pandasqlite_spark.functions.analytics.
    sequence_matches` — Flink-CEP-style pattern detection as a per-user
    state machine: state carries only the last two events per user
    (constant bytes/key, vs buffering the stream), matches emit as the
    closing event arrives.  Exact batch equivalence holds when events
    arrive per-user in event-time order (the finite-drain harness
    guarantees it; a production deployment would front a small
    event-time sorter or accept late-reorder misses like every
    streaming CEP engine)."""
    from pyspark.sql import functions as F

    with_us = events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _detect_sequence,
        outputStructType=CEP_OUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if evict
        else GroupStateTimeout.NoTimeout,
    )


ATTR_OUT_SCHEMA = (
    "purchase_id bigint, user_id bigint, attributed_click_id bigint, gap_s bigint"
)
ATTR_STATE_SCHEMA = "click_us bigint, click_id bigint"
ATTR_LOOKBACK_US = 72 * 3600 * 1_000_000


def _attribute(key, pdfs, state: GroupState):
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    click_us, click_id = state.get if state.exists else (None, None)
    out_p, out_c, out_g = [], [], []
    for pdf in pdfs:
        for _, row in pdf.sort_values(["us", "event_id"]).iterrows():
            if row["event_type"] == "click":
                click_us, click_id = int(row["us"]), int(row["event_id"])
            else:  # purchase
                if click_us is not None and row["us"] - click_us <= ATTR_LOOKBACK_US:
                    out_c.append(click_id)
                    out_g.append((int(row["us"]) - click_us) // 1_000_000)
                else:
                    out_c.append(None)
                    out_g.append(None)
                out_p.append(int(row["event_id"]))
    if click_us is not None:
        state.update((click_us, click_id))
    try:
        state.setTimeoutDuration(ATTR_LOOKBACK_US // 1000)  # evict after lookback
    except PySparkRuntimeError:
        pass  # NoTimeout finite drains reject timer registration
    if out_p:
        yield pd.DataFrame(
            {
                "purchase_id": pd.array(out_p, dtype="Int64"),
                "user_id": pd.array([user_id] * len(out_p), dtype="Int64"),
                "attributed_click_id": pd.array(out_c, dtype="Int64"),
                "gap_s": pd.array(out_g, dtype="Int64"),
            }
        )


def attribution_stream(events: DataFrame, evict: bool = True) -> DataFrame:
    """Streaming twin of :func:`pandasqlite_spark.functions.analytics.
    last_touch_attribution` — per-user last-click state (TWO bigints per
    key, constant regardless of history length: the whole point of the
    stateful form vs re-windowing the history) credits each purchase as
    it arrives.  State evicts after the 72 h lookback (an older click
    could never be credited anyway), which bounds the store at
    |active users|.  Batch equivalence holds when each user's events
    arrive in event-time order (finite-drain harness guarantees it;
    production fronts an event-time sorter or accepts late-reorder
    misses, like the CEP twin)."""
    from pyspark.sql import functions as F

    sub = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return sub.groupBy("user_id").applyInPandasWithState(
        _attribute,
        outputStructType=ATTR_OUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if evict
        else GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Spark 4 transformWithStateInPandas: the same steps on the new API
# ---------------------------------------------------------------------------


def sequence_match_stream_tws(events: DataFrame) -> DataFrame:
    """The click→purchase→error detector of :func:`sequence_match_stream`
    on Spark 4's ``transformWithStateInPandas`` — the successor API
    where state is TYPED and NAMED (a ``ValueState`` holding the
    last-two-events context) instead of a single positional tuple.
    Same step (:func:`_cep_step`), output schema and oracle as the
    applyInPandasWithState twin.

    Requires the streaming Python runner (google.protobuf — see
    ``session.enable_spark4_stateful_runner``) and a state store with
    column families (RocksDB); the caller sets the provider conf.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    class SequenceMatchProcessor(StatefulProcessor):
        def init(self, handle):
            self._ctx = handle.getValueState("ctx", CEP_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            step = _cep_step(key[0], self._ctx.get(), rows)
            if step is None:
                return
            matches, ctx = step
            self._ctx.update(ctx)
            yield matches

        def close(self):
            pass

    with_us = events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return with_us.groupBy("user_id").transformWithStateInPandas(
        SequenceMatchProcessor(),
        outputStructType=CEP_OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",  # finite drain: no timers, availableNow terminates
    )


def user_profiles_stream_tws(events: DataFrame) -> DataFrame:
    """:func:`user_profiles_stream` on Spark 4's
    ``transformWithStateInPandas``: the per-user (count, total,
    last-seen) profile (:func:`_fold_profile`) in a typed ValueState.
    No timer is registered, so a finite availableNow drain terminates."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle):
            self._p = handle.getValueState("profile", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            profile, row = _fold_profile(key[0], self._p.get(), rows)
            self._p.update(profile)
            yield row

        def close(self):
            pass

    with_ms = events.withColumn("ms", F.unix_millis("ts"))
    return with_ms.groupBy("user_id").transformWithStateInPandas(
        ProfileProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
