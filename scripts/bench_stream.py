#!/usr/bin/env python
"""Streaming throughput/latency bench (round-4 verdict item 5).

The streaming twins carry correctness + arrival-order proofs; this
script adds the PERFORMANCE datum: events/sec through a finite
``availableNow`` drain and the state store's peak size, per stateful
key, at a chosen SF (default sf1 — ~6M events through one JVM).

Measured per key from the StreamingQuery's progress feed (the same
numbers a production monitor scrapes):

- ``rows_in``        — total input rows consumed by the drain
- ``wall_s``         — submit → drained wall clock (includes planning)
- ``batch_ms``       — sum of per-batch ``triggerExecution`` durations
- ``events_per_s``   — rows_in / (batch_ms/1000): engine throughput
- ``state_rows_peak`` / ``state_bytes_peak`` — max over batches of the
  state operator's ``numRowsTotal`` / ``memoryUsedBytes`` (RocksDB
  keys also record the SST file size custom metric when present)

Usage: python scripts/bench_stream.py [sf_dir] > BENCH_STREAM.json
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pandasqlite_spark.session import get_spark  # noqa: E402
from pandasqlite_spark.streaming import stateful  # noqa: E402
from pandasqlite_spark.streaming.events import (  # noqa: E402
    _rocksdb_state_store,
    read_events_stream,
    run_stream_to_memory,
    streaming_rate_limit,
    streaming_tumbling,
)


def drain_and_measure(
    spark, build, mode: str, rocksdb: bool = False, meta: dict | None = None
) -> dict:
    with _rocksdb_state_store(spark) if rocksdb else contextlib.nullcontext():
        t0 = time.perf_counter()
        name, q = run_stream_to_memory(build(), mode=mode)
        wall = time.perf_counter() - t0
    rows_in = 0
    batch_ms = 0
    state_rows = 0
    state_bytes = 0
    sst_bytes = 0
    n_batches = 0
    rows_by_batch: list[int] = []
    for p in q.recentProgress:
        rows_in += p.get("numInputRows", 0)
        n_batches += 1
        batch_ms += p.get("durationMs", {}).get("triggerExecution", 0)
        batch_state = 0
        for so in p.get("stateOperators", []):
            batch_state = max(batch_state, so.get("numRowsTotal", 0))
            state_rows = max(state_rows, so.get("numRowsTotal", 0))
            state_bytes = max(state_bytes, so.get("memoryUsedBytes", 0))
            cm = so.get("customMetrics", {})
            sst_bytes = max(sst_bytes, cm.get("rocksdbSstFileSize", 0))
        if p.get("numInputRows", 0) or batch_state:
            rows_by_batch.append(batch_state)
    out_rows = spark.table(name).count()
    rec = {
        "rows_in": rows_in,
        "rows_out": out_rows,
        "n_batches": n_batches,
        "wall_s": round(wall, 2),
        "batch_ms": batch_ms,
        "events_per_s": round(rows_in / (batch_ms / 1000.0), 0)
        if batch_ms
        else None,
        "state_rows_peak": state_rows,
        "state_bytes_peak": state_bytes,
        # per-batch state-row series: the plateau/eviction datum a
        # single-batch drain cannot show (round-5 verdict #2)
        "state_rows_by_batch": rows_by_batch,
    }
    if rocksdb:
        rec["rocksdb_sst_bytes"] = sst_bytes
    # self-describing config (round-6 verdict #3: the JSON rows
    # omitted evict/mode, so the artifact couldn't say which
    # configuration ran) + the micro-batch sizing datum
    rec["mode"] = mode
    rec["rocksdb"] = rocksdb
    if n_batches:
        rec["rows_per_batch"] = round(rows_in / n_batches)
    if meta:
        rec.update(meta)
    return rec


def stage_time_ordered_files(spark, sf_dir: str, n_files: int, staging: str) -> None:
    """Split the events table into ``n_files`` TIME-ORDERED parquet
    files so a ``maxFilesPerTrigger=1`` stream sees ≥ n_files
    micro-batches with a monotonically advancing watermark — the
    production arrival shape (late-data skew aside), and the only way
    an availableNow drain can demonstrate state plateau / watermark
    eviction rather than one giant batch."""
    import glob as _glob
    import shutil

    from pyspark.sql import Window

    if _glob.glob(os.path.join(staging, "events_*.parquet")):
        return  # staged already (keyed by dir; caller picks per-SF dirs)
    os.makedirs(staging, exist_ok=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.withColumn(
        "fidx",
        F.ntile(n_files).over(Window.orderBy(F.col("ts").asc_nulls_first())),
    )
    for i in range(1, n_files + 1):
        tmp = os.path.join(staging, f"_tmp_{i}")
        (
            b.filter(F.col("fidx") == i)
            .drop("fidx")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = _glob.glob(tmp + "/part-*.parquet")[0]
        shutil.move(part, os.path.join(staging, f"events_{i:04d}.parquet"))
        shutil.rmtree(tmp)


def read_staged_stream(spark, staging: str) -> "DataFrame":  # noqa: F821
    """read_events_stream's contract over the staged time-ordered
    files, one file per micro-batch."""
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events_*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    return raw.withColumn(
        "ts",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata_sf1"
    spark = get_spark("bench_stream")
    src = lambda: read_events_stream(spark, sf_dir)  # noqa: E731

    benches: list[tuple[str, dict]] = [
        # stateless-ish watermark agg: the throughput ceiling reference
        (
            "streaming-tumbling",
            dict(build=lambda: streaming_tumbling(src()), mode="complete"),
        ),
        # windowed dedup-style agg (min-struct per key-minute)
        (
            "streaming-rate-limit",
            dict(build=lambda: streaming_rate_limit(src()), mode="complete"),
        ),
        # applyInPandasWithState per-user profile (constant state/key)
        (
            "stateful-profiles-apply",
            dict(
                build=lambda: stateful.user_profiles_stream(src(), evict=False),
                mode="update",
            ),
        ),
        # applyInPandasWithState CEP (last-2-events state machine)
        (
            "streaming-pattern-apply",
            dict(
                build=lambda: stateful.sequence_match_stream(src(), evict=False),
                mode="append",
            ),
        ),
        # transformWithStateInPandas + RocksDB twins
        (
            "stateful-profiles-tws",
            dict(
                build=lambda: stateful.user_profiles_stream_tws(src()),
                mode="update",
                rocksdb=True,
            ),
        ),
        (
            "streaming-pattern-tws",
            dict(
                build=lambda: stateful.sequence_match_stream_tws(src()),
                mode="append",
                rocksdb=True,
            ),
        ),
    ]

    results = {}
    for key, kw in benches:
        print(f"BENCH {key}", file=sys.stderr, flush=True)
        results[key] = drain_and_measure(spark, **kw)
        print(f"  {results[key]}", file=sys.stderr, flush=True)

    # ---- multi-batch production configuration (round-5 verdict #2):
    # time-ordered files, one per micro-batch, eviction ON where the
    # operator has it, append/update output, RocksDB state store — the
    # configuration a real deployment runs, where state plateau and
    # watermark eviction are observable across ≥10 batches instead of
    # vacuous in one.  Each row records its own eviction setting: the
    # TWS processors register no timer or TTL, so they evict nothing.
    n_batches = int(os.environ.get("STREAM_BATCHES", "12"))
    staging = os.path.join(
        os.environ.get("STREAM_STAGING_ROOT", "/tmp/stream_stage"),
        os.path.basename(os.path.normpath(sf_dir)) + f"_{n_batches}",
    )
    print(f"STAGING {n_batches} time-ordered files -> {staging}", file=sys.stderr)
    stage_time_ordered_files(spark, sf_dir, n_batches, staging)
    msrc = lambda: read_staged_stream(spark, staging)  # noqa: E731

    mb: list[tuple[str, bool, dict]] = [
        (
            "mb-streaming-rate-limit",
            True,
            dict(
                build=lambda: streaming_rate_limit(msrc()),
                mode="append",  # watermark closes windows → eviction
                rocksdb=True,
            ),
        ),
        (
            "mb-stateful-profiles-apply",
            True,
            dict(
                build=lambda: stateful.user_profiles_stream(msrc(), evict=True),
                mode="update",
                rocksdb=True,
            ),
        ),
        (
            "mb-streaming-pattern-apply",
            True,
            dict(
                build=lambda: stateful.sequence_match_stream(msrc(), evict=True),
                mode="append",
                rocksdb=True,
            ),
        ),
        (
            "mb-stateful-profiles-tws",
            False,
            dict(
                build=lambda: stateful.user_profiles_stream_tws(msrc()),
                mode="update",
                rocksdb=True,
            ),
        ),
        (
            "mb-streaming-pattern-tws",
            False,
            dict(
                build=lambda: stateful.sequence_match_stream_tws(msrc()),
                mode="append",
                rocksdb=True,
            ),
        ),
    ]
    for key, evict, kw in mb:
        print(f"BENCH {key}", file=sys.stderr, flush=True)
        results[key] = drain_and_measure(
            spark, **kw, meta={"evict": evict, "files": n_batches}
        )
        print(f"  {results[key]}", file=sys.stderr, flush=True)

    # ---- batch-size decomposition (round-6 verdict #3): the same 1M
    # events through 4 / 12 / 48 files splits per-batch FIXED cost from
    # per-row cost — total_batch_ms(n) = fixed_ms*n + per_row_ms*rows
    # with rows constant, so the slope over n IS the fixed cost and the
    # intercept is the per-row term.  This curve is what sizes the
    # micro-batch knob at 100 TB.
    sweep_files = [
        int(x) for x in os.environ.get("STREAM_SWEEP_FILES", "4,12,48").split(",")
    ]
    sweep_keys = {
        "rate-limit": lambda s: dict(
            build=lambda: streaming_rate_limit(s()), mode="append", rocksdb=True
        ),
        "pattern-apply": lambda s: dict(
            build=lambda: stateful.sequence_match_stream(s(), evict=True),
            mode="append",
            rocksdb=True,
        ),
    }
    curve: dict[str, list[dict]] = {k: [] for k in sweep_keys}
    for nf in sweep_files:
        stg = os.path.join(
            os.environ.get("STREAM_STAGING_ROOT", "/tmp/stream_stage"),
            os.path.basename(os.path.normpath(sf_dir)) + f"_{nf}",
        )
        print(f"STAGING sweep {nf} files -> {stg}", file=sys.stderr)
        stage_time_ordered_files(spark, sf_dir, nf, stg)
        ssrc = lambda stg=stg: read_staged_stream(spark, stg)  # noqa: E731
        for kname, mk in sweep_keys.items():
            key = f"mb{nf}-{kname}"
            print(f"BENCH {key}", file=sys.stderr, flush=True)
            rec = drain_and_measure(
                spark, **mk(ssrc), meta={"evict": True, "files": nf}
            )
            results[key] = rec
            print(f"  {rec}", file=sys.stderr, flush=True)
            if "batch_ms" in rec and rec.get("n_batches"):
                curve[kname].append(rec)

    decomposition = {}
    for kname, pts in curve.items():
        if len(pts) >= 2:
            # least squares on batch_ms = fixed*n_batches + c
            n = [p["n_batches"] for p in pts]
            y = [p["batch_ms"] for p in pts]
            k = len(pts)
            sn, sy = sum(n), sum(y)
            snn, sny = sum(a * a for a in n), sum(a * b for a, b in zip(n, y))
            denom = k * snn - sn * sn
            fixed = (k * sny - sn * sy) / denom if denom else None
            c = (sy - (fixed or 0) * sn) / k
            rows = pts[0]["rows_in"]
            decomposition[kname] = {
                "fixed_ms_per_batch": round(fixed, 1) if fixed is not None else None,
                "per_row_us": round(c / rows * 1000.0, 3) if rows else None,
                "points": [
                    {"files": p.get("files"), "n_batches": p["n_batches"],
                     "batch_ms": p["batch_ms"], "events_per_s": p["events_per_s"]}
                    for p in pts
                ],
            }

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "multibatch_files": n_batches,
                "streams": results,
                "batch_size_decomposition": decomposition,
            },
            indent=2,
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
