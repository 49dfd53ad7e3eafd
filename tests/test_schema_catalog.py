"""The parquet schema catalog behind ``operators.common.load``: repeat
reads start no schema-inference job, a rewritten table is re-inferred,
and the PQ and IVF knn-join plan builds collect their operands in one
job each."""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pandasqlite_spark.operators.common import load


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sentinel = f"{group}-sentinel"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([1], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus in event order: once
    # the sentinel's job is visible, every job of ``group`` is too
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(st.getJobIdsForGroup(group))


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1, 2], "x": ["a", "b"]}), path)
    first = load(spark, str(tmp_path), "t")
    assert first.columns == ["id", "x"]
    assert sorted(map(tuple, first.collect())) == [(1, "a"), (2, "b")]

    pq.write_table(
        pa.table({"id": [7, 8, 9], "x": ["p", "q", "r"], "y": [0.5, 1.5, 2.5]}),
        path,
    )
    again = load(spark, str(tmp_path), "t")
    assert again.columns == ["id", "x", "y"]
    assert sorted(map(tuple, again.collect())) == [
        (7, "p", 0.5),
        (8, "q", 1.5),
        (9, "r", 2.5),
    ]


def test_repeat_load_and_pq_build_job_counts(spark, sf_dir, tmp_path):
    pq.write_table(pa.table({"id": [1, 2, 3]}), tmp_path / "u.parquet")
    first = []
    assert _jobs(spark, lambda: first.append(load(spark, str(tmp_path), "u"))) == 1
    second = []
    assert _jobs(spark, lambda: second.append(load(spark, str(tmp_path), "u"))) == 0
    assert second[0].schema == first[0].schema
    # a fresh DataFrame per call: a self-join resolves both sides
    a, b = first[0].alias("a"), second[0].alias("b")
    assert a.join(b, "id").count() == 3

    from pandasqlite_spark.functions.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")  # the schema is known from here on
    assert _jobs(spark, lambda: pq_topk(load(spark, sf_dir, "embeddings"))) == 1
    assert _jobs(spark, lambda: pq_topk(emb)) == 1


def test_ivf_knn_join_build_job_count(spark, sf_dir):
    from pandasqlite_spark.functions.similarity import q_simsearch_ivf_knn_join

    load(spark, sf_dir, "embeddings")  # the schema is known from here on
    assert _jobs(spark, lambda: q_simsearch_ivf_knn_join(spark, sf_dir)) == 1
