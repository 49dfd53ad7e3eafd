#!/usr/bin/env python
"""Round-9 fold-rewrite A/B at a given SF: the NEW row-local scaled-long
fold implementations (cosine_topk_exact / knn_join_exact / the IVF
knn join at HEAD) against the pre-round-9 posexplode ⋈ SUM
references (kept verbatim in tests/test_sketch_embedding_ops.py as the
bit-identity fixtures).  Interleaved noop-sink runs, shared JVM.

Usage: python scripts/ab_fold_sf1.py [sf_dir] [n_runs]
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pandasqlite_spark.functions.similarity import (  # noqa: E402
    cosine_topk_exact,
    knn_join_exact,
    q_simsearch_ivf_knn_join,
    q_simsearch_rrf_hybrid,
)
from pandasqlite_spark.operators.common import load  # noqa: E402
from pandasqlite_spark.session import get_spark  # noqa: E402
from tests.test_sketch_embedding_ops import (  # noqa: E402
    _ref_cosine_topk_exact,
    _ref_knn_join_exact,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata_sf1"
N_RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("ab_fold_sf1")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()
    d = SF_DIR
    emb = load(spark, d, "embeddings")
    out = {"sf_dir": d, "n_emb": emb.count(), "n_runs": N_RUNS}

    query1 = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    rest = emb.filter(F.col("vec_id") != 0)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 8)

    arms = {
        "topk_fold": lambda: cosine_topk_exact(rest, query1, k=100),
        "topk_explode": lambda: _ref_cosine_topk_exact(rest, query1, k=100),
        "knn_fold": lambda: knn_join_exact(corpus, queries, k=5),
        "knn_explode": lambda: _ref_knn_join_exact(corpus, queries, k=5),
        # headline composites at HEAD (fold inside): absolute walls only
        "q19_head": lambda: q_simsearch_ivf_knn_join(spark, d),
        "q16_head": lambda: q_simsearch_rrf_hybrid(spark, d),
    }
    runs: dict[str, list[float]] = {k: [] for k in arms}
    for _ in range(N_RUNS):
        for name, build in arms.items():
            spark.sparkContext.setJobDescription(name)
            runs[name].append(round(_noop(build()), 3))
    spark.sparkContext.setJobDescription(None)
    out["runs"] = runs
    out["medians"] = {k: statistics.median(v) for k, v in runs.items()}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
