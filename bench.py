#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries are forced end-to-end with the ``noop`` sink (full compute, no
write cost, no driver collect).  Production fast paths are used where
the oracle-checked queries() entries deliberately trade speed for
cross-engine bit-exactness (xxhash64 MinHash, double-fold cosine).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _queries(sf_dir: str):
    from pyspark.sql import functions as F

    from pandasqlite_spark.functions.dedup import (
        candidate_pairs,
        lsh_bands,
        minhash_signatures_local,
    )
    from pandasqlite_spark.functions.similarity import cosine_topk
    from pandasqlite_spark.functions.text import quality_score, token_count
    from pandasqlite_spark.operators import relational as R
    from pandasqlite_spark.operators.common import load
    from pandasqlite_spark.streaming.events import session_agg, tumbling_agg
    from pandasqlite_spark.operators.common import load_events

    def dedup_fast(spark, d):
        # row-local signature under its documented win condition
        # (round-9 q5 profile, PROFILE_Q5_SF1.json): full-parallelism
        # input + eagerly persisted signature feeding both self-join
        # sides — −16% sf0.1 / −30% sf1 vs the explode→groupBy form,
        # and the persisted signature (k×8B/doc) is ≪ the text it
        # replaces, so the win grows at scale
        docs = load(spark, d, "documents")
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        sig = minhash_signatures_local(docs.repartition(n_part)).localCheckpoint(
            eager=True
        )
        return candidate_pairs(lsh_bands(sig))

    def simsearch_fast(spark, d):
        emb = load(spark, d, "embeddings")
        q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        return cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=10)

    def _tpch_q5(spark, d):
        from pandasqlite_spark.operators.tpch import q_tpch_q5

        return q_tpch_q5(spark, d)

    def _tpch_q9(spark, d):
        from pandasqlite_spark.operators.tpch import q_tpch_q9

        return q_tpch_q9(spark, d)

    def _tpch_q21(spark, d):
        from pandasqlite_spark.operators.tpch import q_tpch_q21

        return q_tpch_q21(spark, d)

    def _checksum(spark, d):
        from pandasqlite_spark.functions.analytics import table_checksum

        li = load(spark, d, "lineitem").withColumn(
            "l_qty_int", F.col("l_quantity").cast("bigint")
        )
        return table_checksum(
            li,
            ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_qty_int", "l_returnflag", "l_linestatus"],
            "l_returnflag",
            algo="xxhash64",
        )

    def _pq(spark, d):
        from pandasqlite_spark.functions.similarity import pq_topk

        return pq_topk(load(spark, d, "embeddings"))

    def _rrf(spark, d):
        from pandasqlite_spark.functions.similarity import q_simsearch_rrf_hybrid

        return q_simsearch_rrf_hybrid(spark, d)

    def _burst(spark, d):
        from pandasqlite_spark.functions.timeseries import q_events_burst_viterbi

        return q_events_burst_viterbi(spark, d)

    def text_pipeline(spark, d):
        docs = load(spark, d, "documents")
        return docs.select(
            "doc_id", token_count().alias("n_tokens"), quality_score().alias("q")
        )

    def _decode(spark, d):
        from pandasqlite_spark.functions.multimodal import q_multimodal_decode_image

        return q_multimodal_decode_image(spark, d)

    def _ivf_knn(spark, d):
        from pandasqlite_spark.functions.similarity import q_simsearch_ivf_knn_join

        return q_simsearch_ivf_knn_join(spark, d)

    def _decode_jpeg(spark, d):
        from pandasqlite_spark.functions.multimodal import q_multimodal_decode_jpeg

        return q_multimodal_decode_jpeg(spark, d)

    return {
        "q1_pricing_summary": R.q_agg_count_sum_avg_min_max,
        "q2_region_revenue_join": R.q_join_inner_equi,
        "q3_top_per_segment": R.q_window_row_number,
        "q4_cte_supplier_revenue": R.q_cte_basic,
        "q5_dedup_minhash": dedup_fast,
        "q6_simsearch_topk": simsearch_fast,
        "q7_events_tumbling": lambda s, d: tumbling_agg(load_events(s, d)),
        "q8_events_session": lambda s, d: session_agg(load_events(s, d)),
        "q9_text_quality": text_pipeline,
        "q10_rollup": R.q_agg_rollup,
        "q11_tpch_q5": _tpch_q5,
        # q1-q11 are the stable r01 regression set; q12/q13 add the two
        # heaviest TPC-H join patterns (multi-fact-join agg, 4-way
        # exists/not-exists self-join) without disturbing comparability
        "q12_tpch_q9": _tpch_q9,
        "q13_tpch_q21": _tpch_q21,
        # full-table scan + row-local md5 fold + 3-group partial agg:
        # the pure scan/hash-throughput probe (reconciliation primitive)
        "q14_table_checksum": _checksum,
        # PQ/ADC ANN: numpy ADC encode + exact integer rerank, both
        # over Arrow batches in Python workers, on the embeddings table
        "q15_simsearch_pq": _pq,
        # hybrid retrieval: BM25 + dense-cosine shortlists fused by RRF
        # (two score-and-reduce pipelines + a bounded fusion join)
        "q16_simsearch_rrf": _rrf,
        # bounded sequential recurrence: gap-filled hourly grid + the
        # path-carrying Viterbi fold (collapse-then-fold throughput)
        "q17_burst_viterbi": _burst,
        # REAL codec round trip per row (PNG encode -> inflate+unfilter
        # decode) inside mapInPandas — the Python/Arrow batch-transfer
        # + per-row compute throughput probe
        "q18_multimodal_decode": _decode,
        # cell-restricted ANN retrieval: one driver collect of the
        # centroids and queries, then one numpy pass over Arrow batches
        # that assigns cells and scores each row against its cell's
        # queries (the IVF scale path)
        "q19_ivf_knn_join": _ivf_knn,
        # baseline JPEG round trip per row (FDCT+Huffman encode →
        # entropy decode+IDCT) inside mapInPandas — the heavier-codec
        # sibling of q18's PNG probe
        "q20_multimodal_jpeg": _decode_jpeg,
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
