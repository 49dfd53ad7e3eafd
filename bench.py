#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries are forced end-to-end with the ``noop`` sink (full compute, no
write cost, no driver collect).  Every headline query but
``q9_text_quality`` is a key of the ``queries()`` registry, so the
bench times exactly the code the oracle sweep checks.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# headline name -> registry key, in bench order.  q1-q11 are the stable
# r01 regression set; q12/q13 add the two heaviest TPC-H join patterns
# (multi-fact-join agg, 4-way exists/not-exists self-join).
HEADLINE_KEYS = {
    "q1_pricing_summary": "agg-count-sum-avg-min-max",
    "q2_region_revenue_join": "join-inner-equi",
    "q3_top_per_segment": "window-row-number",
    "q4_cte_supplier_revenue": "cte-basic",
    "q5_dedup_minhash": "dedup-minhash-pairs",
    "q6_simsearch_topk": "simsearch-topk",
    "q7_events_tumbling": "events-tumbling-agg",
    "q8_events_session": "events-session-agg",
    "q9_text_quality": None,
    "q10_rollup": "agg-rollup",
    "q11_tpch_q5": "tpch-q5",
    "q12_tpch_q9": "tpch-q9",
    "q13_tpch_q21": "tpch-q21",
    # full-table scan + row-local md5 fold + 3-group partial agg: the
    # pure scan/hash-throughput probe (reconciliation primitive)
    "q14_table_checksum": "table-checksum",
    # PQ/ADC ANN: numpy ADC encode + exact integer rerank, both over
    # Arrow batches in Python workers
    "q15_simsearch_pq": "simsearch-pq-adc",
    # hybrid retrieval: BM25 + dense-cosine shortlists fused by RRF
    "q16_simsearch_rrf": "simsearch-rrf-hybrid",
    # bounded sequential recurrence: gap-filled hourly grid + the
    # path-carrying Viterbi fold
    "q17_burst_viterbi": "events-burst-viterbi",
    # PNG encode -> inflate+unfilter decode per row inside mapInPandas
    "q18_multimodal_decode": "multimodal-decode-image",
    # cell-restricted ANN retrieval: one driver collect of centroids and
    # queries, then one numpy pass over Arrow batches (the IVF scale path)
    "q19_ivf_knn_join": "simsearch-ivf-knn-join",
    # baseline JPEG round trip per row inside mapInPandas
    "q20_multimodal_jpeg": "multimodal-decode-jpeg",
}


def _text_quality(spark, d):
    """Row-local text expressions over the documents table, no shuffle.
    No registry key runs this composition; it stays because
    ``perfbench``'s ``headline`` workload times it."""
    from pandasqlite_spark.functions.text import quality_score, token_count
    from pandasqlite_spark.operators.common import load

    docs = load(spark, d, "documents")
    return docs.select(
        "doc_id", token_count().alias("n_tokens"), quality_score().alias("q")
    )


def _queries(sf_dir: str):
    from pandasqlite_spark.operators import registry

    every = registry.queries()
    return {
        name: _text_quality if key is None else every[key]
        for name, key in HEADLINE_KEYS.items()
    }


def _ref_query_s(spark) -> float:
    """A fixed machine-state normalizer (round-5 verdict #5): the same
    SF-independent computation every run — sum/count over a 50M-row
    in-memory range — timed as the median of 3.  Builder-vs-driver
    runs of identical code divide per-query times by the ratio of
    their ref_query_s to separate engine changes from machine state
    (BENCH_NOTES.md showed a 12.4s-vs-16.4s spread on identical
    code)."""
    import statistics

    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).select(
            F.sum(F.col("id") % 7), F.count(F.lit(1))
        ).collect()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def _warm_up(spark, warm_dir: str, queries: dict) -> list[str]:
    """Run each query once on ``warm_dir`` to the noop sink.  Returns
    the names of the queries that failed; each failure is also reported
    on stderr with its traceback."""
    import traceback

    failed: list[str] = []
    for name, fn in queries.items():
        try:
            fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        except Exception:
            failed.append(name)
            print(f"warm-up failed: {name}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
    return failed


def _run_one(spark, sf_dir: str, name: str, fn, n_runs: int) -> float:
    """Median wall of n_runs noop-sink executions of one query."""
    import statistics

    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def _child_one_query(name: str) -> None:
    """--query NAME child mode for BENCH_FRESH_JVM=1: a brand-new JVM
    warms plan shapes at sf0.001, times the one query, prints one JSON
    line — so per-query numbers carry no shared-JVM heap/GC history
    from earlier queries."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pandasqlite_spark.session import get_spark

    spark = get_spark("pandasqlite_spark_bench_child")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    fn = _queries(sf_dir)[name]
    warm_dir = "/root/testdata/sf0.001"
    warmup_failed: list[str] = []
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        warmup_failed = _warm_up(spark, warm_dir, {name: fn})
    n_runs = int(os.environ.get("BENCH_RUNS", "5"))
    sec = _run_one(spark, sf_dir, name, fn, n_runs)
    # normalize inside the SAME child JVM the query ran in: cross-run
    # comparison divides out this JVM's share of machine state
    # (round-6 verdict #5 — q11's 25% fresh-JVM spread tracked the
    # ref-query ratio)
    ref_s = _ref_query_s(spark)
    print(
        json.dumps(
            {
                "name": name,
                "sec": sec,
                "ref_query_s": ref_s,
                "norm": round(sec / ref_s, 3) if ref_s else None,
                "warmup_failed": warmup_failed,
            }
        )
    )


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--query":
        _child_one_query(sys.argv[2])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_start = os.getloadavg()[0]

    fresh_jvm = os.environ.get("BENCH_FRESH_JVM", "0") == "1"
    if fresh_jvm:
        # fresh-JVM-per-query mode: each query in its own subprocess /
        # SparkSession, immune to heap history from earlier queries
        import subprocess

        timings: dict[str, float] = {}
        normalized: dict[str, float] = {}
        warmup_failed: list[str] = []
        for name in _queries(sf_dir):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--query", name],
                capture_output=True,
                text=True,
                check=True,
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            timings[name] = rec["sec"]
            normalized[name] = rec.get("norm")
            warmup_failed += rec["warmup_failed"]
        from pandasqlite_spark.session import get_spark

        spark = get_spark("pandasqlite_spark_bench")
        ref_s = _ref_query_s(spark)
        total = round(sum(timings.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    # sec / that child JVM's own ref_query_s — the
                    # machine-state-independent per-query number two
                    # fresh runs are compared on (round-6 verdict #5)
                    "queries_normalized": normalized,
                    "sf": sf,
                    "runs_per_query": int(os.environ.get("BENCH_RUNS", "5")),
                    "stat": "median",
                    "mode": "fresh_jvm",
                    "ref_query_s": ref_s,
                    "load_1m_start": round(load_start, 2),
                    "load_1m_end": round(os.getloadavg()[0], 2),
                    "cpus": spark.sparkContext.defaultParallelism,
                    "warmup_failed": warmup_failed,
                }
            )
        )
        return

    from pandasqlite_spark.session import get_spark

    spark = get_spark("pandasqlite_spark_bench")
    # warm up: JVM + parquet footers, so q1 doesn't pay session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()

    # warm whole-stage codegen with identical plan shapes on the tiny SF
    # (JIT compilation is per-plan, not per-data; measuring it would
    # benchmark javac, not the engine)
    warm_dir = "/root/testdata/sf0.001"
    warmup_failed: list[str] = []
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        warmup_failed = _warm_up(spark, warm_dir, _queries(warm_dir))

    # median of N warm runs per query (default 5, env-tunable): the
    # round-4 bench drifted +24-26% on UNTOUCHED TPC-H queries under
    # min-of-2 — shared-JVM run-to-run variance, not a regression
    # (BENCH_NOTES.md).  The median of 5 absorbs one-off scheduler/GC
    # hiccups in BOTH directions where a min only rejects slow
    # outliers (and so tracks the luckiest GC window, which moves
    # between rounds as unrelated queries shift heap usage).
    import statistics

    n_runs = int(os.environ.get("BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    for name, fn in _queries(sf_dir).items():
        timings[name] = _run_one(spark, sf_dir, name, fn, n_runs)

    # statistics imported above; keep the reference normalizer LAST so
    # it reflects the same session state the queries ran under
    ref_s = _ref_query_s(spark)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_normalized": {
                    k: (round(v / ref_s, 3) if ref_s else None)
                    for k, v in timings.items()
                },
                "sf": sf,
                "runs_per_query": n_runs,
                "stat": "median",
                "mode": "shared_jvm",
                "ref_query_s": ref_s,
                "load_1m_start": round(load_start, 2),
                "load_1m_end": round(os.getloadavg()[0], 2),
                "cpus": spark.sparkContext.defaultParallelism,
                "warmup_failed": warmup_failed,
            }
        )
    )


if __name__ == "__main__":
    main()
