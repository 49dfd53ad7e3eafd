"""Structured Streaming twins: the streaming session_window operator and
watermark plumbing run to completion on the finite events source."""

from __future__ import annotations

from pandasqlite_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    session_agg,
    streaming_session_window,
    streaming_tumbling,
)
from pandasqlite_spark.operators.common import load_events


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    agg = streaming_tumbling(read_events_stream(spark, sf_dir))
    name, _ = run_stream_to_memory(agg, mode="complete")
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["total"])
        for r in spark.table(name).collect()
    }
    from pandasqlite_spark.streaming.events import tumbling_agg

    want = {
        (r["hour"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_agg(load_events(spark, sf_dir)).collect()
    }
    assert got == want


def test_streaming_session_window_runs(spark, sf_dir):
    agg = streaming_session_window(read_events_stream(spark, sf_dir))
    name, _ = run_stream_to_memory(agg, mode="complete")
    rows = spark.table(name).collect()
    assert len(rows) > 0
    # session windows respect the gap: end >= start for every session
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_batch_sessionization_gap_semantics(spark, sf_dir):
    sessions = session_agg(load_events(spark, sf_dir)).collect()
    assert len(sessions) > 0
    by_user = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    # within a user, sessions are disjoint and ordered
    for rs in by_user.values():
        rs.sort(key=lambda r: r["session_id"])
        for a, b in zip(rs, rs[1:]):
            assert b["start_ms"] - a["end_ms"] > 30 * 60 * 1000


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the
    watermark far past an old window; batch 2 delivers a row for that
    old window.  Append-mode aggregation must emit the closed window
    WITHOUT the late row — the state-bounding contract that makes a
    100 TB stream's memory finite."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows)
        # µs precision: pandas defaults to ns, which Spark's reader
        # refuses against a declared TimestampType schema
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(src / name, index=False)

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    # batch 1: two rows in the 00:00 window, one at 06:00 (watermark
    # driver: max event time 06:00 - 1h delay => watermark 05:00)
    write_batch(
        "b1.parquet",
        {"k": ["a", "a", "a"], "ts": [t0, t0 + pd.Timedelta("5 min"), t0 + pd.Timedelta("6 h")]},
    )
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "k", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # barrier: batch 1 fully processed and its watermark committed
        # BEFORE the late file exists (sleep-polling here was flaky
        # under CPU contention — the late row could land in batch 1's
        # watermark-0 micro-batch and get merged instead of dropped)
        q.processAllAvailable()
        write_batch("b2.parquet", {"k": ["a"], "ts": [t0 + pd.Timedelta("1 min")]})
        q.processAllAvailable()
        # one more empty pass so append mode emits any window the
        # batch-2 watermark closed
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {(r["start"], r["k"]): r["n"] for r in spark.table("late_test").collect()}
    # the 00:00 window closed with exactly the 2 on-time rows; the late
    # third row was dropped, not merged and not re-emitted
    assert emitted.get((t0.to_pydatetime(), "a")) == 2, emitted


def test_foreach_batch_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    """Stream → foreachBatch parquet sink → read back: contents equal
    the batch source (count + exact value sum), proving the idempotent
    batch-writer sink pattern end-to-end."""
    from pyspark.sql import functions as F

    from pandasqlite_spark.operators.common import load_events
    from pandasqlite_spark.streaming.events import (
        read_events_stream,
        run_stream_foreach_batch_parquet,
    )

    out = str(tmp_path / "sink")
    run_stream_foreach_batch_parquet(read_events_stream(spark, sf_dir), out)
    back = spark.read.parquet(out + "/batch=*")
    src = load_events(spark, sf_dir)
    agg = lambda df: df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    ).collect()[0]
    assert agg(back) == agg(src)


# ---------------------------------------------------------------------------
# arrival-order proof for the stateful twins (round-3 verdict item 6):
# the production drain replays ONE ordered file; here the same events
# arrive as three time-cut micro-batches whose rows are SHUFFLED within
# each batch (the within-watermark disorder a real source delivers).
# Results must be identical to the ordered-arrival production run for
# every arrival seed — proving the positional-pick / state machinery is
# genuinely arrival-order-proof, not fixture-order-lucky.
# ---------------------------------------------------------------------------

import numpy as np
import pytest
from pyspark.sql import functions as F


def _shuffled_arrival_dir(spark, sf_dir, tmp_path, seed, n_cuts=3):
    """Write events as ``n_cuts`` event-time-cut batch files (oldest
    mtime first, so the file source replays them in time order —
    cross-batch order is the stateful twins' documented contract), each
    file's ROWS permuted by ``seed``."""
    import os
    import time as _t

    pdf = (
        load_events(spark, sf_dir)
        .select(
            "event_id",
            F.unix_micros("ts").alias("us"),
            "user_id",
            "event_type",
            "value",
        )
        .toPandas()
        .sort_values("us", ignore_index=True)
    )
    rng = np.random.default_rng(seed)
    cuts = np.array_split(np.arange(len(pdf)), n_cuts)
    src = tmp_path / f"arrival_{seed}"
    src.mkdir()
    now = _t.time()
    for i, idx in enumerate(cuts):
        batch = pdf.iloc[rng.permutation(idx)].reset_index(drop=True)
        dest = src / f"b{i}.parquet"
        batch.to_parquet(dest, index=False)
        t = now - 60 * (n_cuts - i)
        os.utime(dest, (t, t))
    return str(src)


def _stream_from(spark, src_dir):
    return (
        spark.readStream.schema(
            "event_id bigint, us bigint, user_id bigint,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.timestamp_micros("us"))
    )


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("seed", [101, 202])
def test_cep_twins_arrival_order_proof(spark, sf_dir, tmp_path, seed):
    from pandasqlite_spark.streaming import stateful
    from pandasqlite_spark.streaming.events import (
        _rocksdb_state_store,
        q_events_streaming_pattern,
        run_stream_to_memory,
    )

    want = _canon_rows(q_events_streaming_pattern(spark, sf_dir))
    src = _shuffled_arrival_dir(spark, sf_dir, tmp_path, seed)

    # applyInPandasWithState twin
    stream = stateful.sequence_match_stream(_stream_from(spark, src), evict=False)
    name, _ = run_stream_to_memory(stream, mode="append")
    assert _canon_rows(spark.table(name)) == want

    # transformWithStateInPandas twin (RocksDB column families)
    with _rocksdb_state_store(spark):
        stream = stateful.sequence_match_stream_tws(_stream_from(spark, src))
        name, _ = run_stream_to_memory(stream, mode="append")
    assert _canon_rows(spark.table(name)) == want


@pytest.mark.parametrize("seed", [101, 202])
def test_attribution_rate_limit_arrival_order_proof(spark, sf_dir, tmp_path, seed):
    from pandasqlite_spark.streaming import stateful
    from pandasqlite_spark.streaming.events import (
        q_events_streaming_attribution,
        q_events_streaming_rate_limit,
        run_stream_to_memory,
        streaming_rate_limit,
    )

    src = _shuffled_arrival_dir(spark, sf_dir, tmp_path, seed)

    want_attr = _canon_rows(q_events_streaming_attribution(spark, sf_dir))
    stream = stateful.attribution_stream(_stream_from(spark, src), evict=False)
    name, _ = run_stream_to_memory(stream, mode="append")
    assert _canon_rows(spark.table(name)) == want_attr

    want_rl = _canon_rows(q_events_streaming_rate_limit(spark, sf_dir))
    agg = streaming_rate_limit(_stream_from(spark, src))
    name, _ = run_stream_to_memory(agg, mode="complete")
    assert _canon_rows(spark.table(name)) == want_rl


def test_drain_past_its_deadline_raises(spark, sf_dir, monkeypatch):
    """A query still running at the drain deadline is stopped and the
    drain raises TimeoutError naming its memory sink, instead of
    returning a partial table."""
    import time

    from pandasqlite_spark.streaming import events

    def slow(batches):
        for pdf in batches:
            time.sleep(3)
            yield pdf

    monkeypatch.setattr(events, "STREAM_DRAIN_TIMEOUT_S", 0.5)
    stream = read_events_stream(spark, sf_dir).select("event_id")
    with pytest.raises(TimeoutError, match="stream_result_"):
        run_stream_to_memory(stream.mapInPandas(slow, "event_id bigint"), mode="append")
    assert spark.streams.active == []


def test_python_stream_source_past_its_deadline_raises(spark, sf_dir, monkeypatch):
    """``scan-python-stream-source`` drains through ``_await_drained``:
    past the deadline its query is stopped and TimeoutError names its
    memory sink, instead of a partial ``stream_pyds_result`` table."""
    from pandasqlite_spark.sources.generator import q_scan_python_stream_source
    from pandasqlite_spark.streaming import events

    monkeypatch.setattr(events, "STREAM_DRAIN_TIMEOUT_S", 0)
    with pytest.raises(TimeoutError, match="stream_pyds_result"):
        q_scan_python_stream_source(spark, sf_dir)
    assert spark.streams.active == []


def test_foreach_batch_parquet_past_its_deadline_raises(spark, sf_dir, monkeypatch, tmp_path):
    """A foreachBatch query still writing at the deadline is stopped and
    raises TimeoutError naming its output directory, instead of being
    left running while the caller reads a partial directory."""
    import time

    from pandasqlite_spark.streaming import events

    def slow(batches):
        for pdf in batches:
            time.sleep(3)
            yield pdf

    monkeypatch.setattr(events, "STREAM_DRAIN_TIMEOUT_S", 0.5)
    out = str(tmp_path / "sink")
    stream = read_events_stream(spark, sf_dir).select("event_id")
    with pytest.raises(TimeoutError, match="sink"):
        events.run_stream_foreach_batch_parquet(stream.mapInPandas(slow, "event_id bigint"), out)
    assert spark.streams.active == []
