"""``ingest``: the write side, ``core.ingest`` with the content-hash cache.

Why: it is the only workload whose operations are ingests, so it is the
one whose throughput a cheaper ingest (fewer full scans per table) moves
directly; ``ask`` pays one ingest in its set-up.

Each operation ingests one batch with ``persist=True`` into a cache
directory the run owns (``PANDASQLITE_SPARK_CACHE_DIR``).  A batch is a
seeded row subset of ``orders`` written as parquet plus a seeded row
subset of ``customer`` given as an in-memory pandas frame, so every
content hash is new: a cache miss.  In every block of five operations,
one re-ingests a batch ingested earlier in the run: a cache hit, the
fast class, which stays below the median.

Checks: a hit returns the metadata of the miss it repeats; after the
loop, re-opening each batch by its hash returns the metadata the
ingest returned, and each hash-named view has its input's row count.

The ingest layers (``hashing``, ``cache``, ``sampling``, ``llm``) are
traced by ``trace_layers`` and summarised by ``layer_summary``, here
over the loop's operations and in ``ask`` over its set-up ingest.
"""

from __future__ import annotations

import json
import random
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pandasqlite_spark.core import cache as cache_mod
from pandasqlite_spark.core import ingest as ingest_mod
from ask import AskLLM

ORDER_ROWS = (2000, 4000)
CUSTOMER_ROWS = (200, 400)
HITS_PER_BLOCK, BLOCK = 1, 5

LAYER_METRICS = {
    "hashing.ms_per_table": "ms",
    "hashing.jobs_per_table": "count",
    "cache.save_ms_per_table": "ms",
    "cache.register_ms_per_table": "ms",
    "sampling.snapshot_ms_per_table": "ms",
    "sampling.enum_ms_per_table": "ms",
    "llm.ms_per_table": "ms",
    "ingest.full_scans_per_table": "count",
    "ingest.jobs_per_miss": "count",
    "ingest.jobs_per_hit": "count",
    "ingest.miss_ms": "ms",
    "ingest.hit_ms": "ms",
    "cache.bytes_written_per_input_byte": "ratio",
}


def as_stored(results: list[dict]) -> list[dict]:
    """Ingestion results as the cache stores them (JSON, with str() for the rest)."""
    return json.loads(json.dumps(results, default=str))


def trace_layers(tracer, llm: AskLLM) -> None:
    tracer.wrap(ingest_mod, "hash_spark", "hashing")
    tracer.wrap(ingest_mod, "hash_pandas", "hashing")
    tracer.wrap(cache_mod, "save_table", "cache.save")
    tracer.wrap(cache_mod, "register_table", "cache.register")
    tracer.wrap(ingest_mod, "snapshot_data", "sampling.snapshot")
    tracer.wrap(ingest_mod, "distinct_enum_values", "sampling.enum")
    tracer.wrap(llm, "complete", "llm")


def traced_ingest(tracer, op: str, kind: str, spark, inputs: list, llm_cb, rows: int, input_bytes: int):
    """One ingest under an ``op`` span that records what ``layer_summary`` needs."""
    with tracer.op(op) as rec:
        rec.update(ok=False, kind=kind, rows=rows, input_bytes=input_bytes, written_bytes=0)
        results, _, batch_hash = ingest_mod.ingest(spark, inputs, llm_cb, persist=True)
        rec["ok"] = True
    if kind == "miss":
        rec["written_bytes"] = sum(
            p.stat().st_size for r in results for p in cache_mod.table_path(r["hash"]).rglob("*.parquet")
        )
    return results, batch_hash


def layer_summary(tracer, groups: dict, events: dict) -> dict:
    """The ingest layer metrics over every traced op span that has a ``kind``."""
    ops = {s["op"]: s for s in tracer.spans if s["name"] == "op" and "kind" in s}
    miss = [s for s in ops.values() if s["kind"] == "miss"]
    hit = [s for s in ops.values() if s["kind"] == "hit"]
    ms: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s in tracer.spans:
        if s["op"] in ops:
            ms[s["name"]] = ms.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1e3
            calls[s["name"]] = calls.get(s["name"], 0) + 1

    def jobs(spans, layer: str | None = None) -> int:
        names = {s["op"] for s in spans}
        return sum(v["jobs"] for g, v in groups.items()
                   if g.split("/")[1] in names and (layer is None or g.endswith("/" + layer)))

    def per(total: float, n: int) -> float:
        return total / n if n else 0.0

    miss_names = {s["op"] for s in miss}
    scanned = sum(v.get("scan_rows", 0.0) for g, v in events.items() if g.split("/")[1] in miss_names)
    enriched = calls.get("sampling.snapshot", 0)
    return {
        "hashing.ms_per_table": per(ms.get("hashing", 0.0), calls.get("hashing", 0)),
        "hashing.jobs_per_table": per(jobs(ops.values(), "hashing"), calls.get("hashing", 0)),
        "cache.save_ms_per_table": per(ms.get("cache.save", 0.0), calls.get("cache.save", 0)),
        "cache.register_ms_per_table": per(ms.get("cache.register", 0.0), calls.get("cache.register", 0)),
        "sampling.snapshot_ms_per_table": per(ms.get("sampling.snapshot", 0.0), enriched),
        "sampling.enum_ms_per_table": per(ms.get("sampling.enum", 0.0), enriched),
        "llm.ms_per_table": per(ms.get("llm", 0.0), enriched),
        "ingest.full_scans_per_table": per(scanned, sum(s["rows"] for s in miss)),
        "ingest.jobs_per_miss": per(jobs(miss), len(miss)),
        "ingest.jobs_per_hit": per(jobs(hit), len(hit)),
        "ingest.miss_ms": statistics.median((s["end"] - s["start"]) * 1e3 for s in miss) if miss else 0.0,
        "ingest.hit_ms": statistics.median((s["end"] - s["start"]) * 1e3 for s in hit) if hit else 0.0,
        "cache.bytes_written_per_input_byte": per(sum(s["written_bytes"] for s in miss),
                                                  sum(s["input_bytes"] for s in miss)),
    }


class Workload:
    cpu_ops = BLOCK  # CPU is counted over one block: the same hit/miss mix in every run

    def __init__(self, seed: int, tables: Path, run_dir: Path, seconds: float):
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.orders = pq.read_table(tables / "orders.parquet")
        self.customer = pq.read_table(tables / "customer.parquet")
        self.batch_dir = run_dir / "batches"
        self.batch_dir.mkdir(parents=True)
        self.batches: list[dict] = []
        # enough fresh batches for a loop of 0.1 s operations; more are made if needed
        for _ in range(int(10 * seconds) + 8):
            self._new_batch()
        self.plan = self._plan(len(self.batches) * 2)
        self.llm = AskLLM()
        self.llm_cb = self.llm.callback
        self.done: list[tuple[int, list, str]] = []  # (batch, results, batch hash)
        self.next_fresh = 0
        self.tracer = None

    def _new_batch(self) -> None:
        b = len(self.batches)
        n_o = int(self.np_rng.integers(*ORDER_ROWS))
        n_c = int(self.np_rng.integers(*CUSTOMER_ROWS))
        o = self.orders.take(np.sort(self.np_rng.choice(self.orders.num_rows, n_o, replace=False)))
        c = self.customer.take(np.sort(self.np_rng.choice(self.customer.num_rows, n_c, replace=False)))
        path = self.batch_dir / f"b{b}_orders.parquet"
        pq.write_table(o, path)
        pdf = c.to_pandas()
        self.batches.append({
            "inputs": [str(path), pdf],
            "rows": [n_o, n_c],
            "input_bytes": path.stat().st_size + pa.Table.from_pandas(pdf).nbytes,
        })

    def _plan(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            block = ["hit"] * HITS_PER_BLOCK + ["miss"] * (BLOCK - HITS_PER_BLOCK)
            self.rng.shuffle(block)
            out.extend(block)
        return out

    def setup(self, spark, tracer) -> tuple[int, int]:
        self.spark = spark
        failed = 0
        for kind in ("miss", "miss", "hit"):
            try:
                ok = self._ingest(kind, None)[1]
            except Exception:
                import traceback

                traceback.print_exc()
                ok = False
            failed += not ok
        return 3, failed

    def _ingest(self, kind: str, op: str | None):
        if kind == "hit":
            b, first_results, _ = self.done[self.rng.randrange(len(self.done))]
        else:
            if self.next_fresh == len(self.batches):
                self._new_batch()
            b, first_results = self.next_fresh, None
            self.next_fresh += 1
        batch = self.batches[b]
        t0 = time.perf_counter()
        if op is None:
            results, _, batch_hash = ingest_mod.ingest(self.spark, batch["inputs"], self.llm_cb, persist=True)
        else:
            results, batch_hash = traced_ingest(self.tracer, op, kind, self.spark, batch["inputs"],
                                                self.llm_cb, sum(batch["rows"]), batch["input_bytes"])
        lat = time.perf_counter() - t0
        ok = len(results) == 2 and (first_results is None or as_stored(results) == as_stored(first_results))
        if kind == "miss":
            self.done.append((b, results, batch_hash))
        return lat, ok, kind

    def run_op(self, i: int):
        return self._ingest(self.plan[i % len(self.plan)], None if self.tracer is None else f"op{i}")

    def may_stop(self, i: int) -> bool:
        return True

    def finish(self) -> int:
        """Re-open every batch by hash, then count each view's rows in one query."""
        failed = 0
        expected: dict[str, int] = {}
        for b, results, batch_hash in self.done:
            meta, _, _ = ingest_mod.ingest(self.spark, batch_hash)
            if meta != as_stored(results):
                print(f"ingest: batch {batch_hash} re-opened with other metadata", flush=True)
                failed += 1
            for r, rows in zip(results, self.batches[b]["rows"]):
                expected[r["hash"]] = rows
        union = " UNION ALL ".join(f"SELECT '{h}' AS h, COUNT(*) AS n FROM `{h}`" for h in expected)
        for h, n in self.spark.sql(union).collect():
            if expected[h] != n:
                print(f"ingest: view {h} has {n} rows, input had {expected[h]}", flush=True)
                failed += 1
        return failed

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer
        trace_layers(tracer, self.llm)

    def layer_metrics(self, tracer, groups: dict, events: dict) -> dict:
        return layer_summary(tracer, groups, events)
