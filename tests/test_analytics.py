"""Edge-case unit tests for the analytics batch (functions/analytics.py,
chunking in functions/text.py, sqrt mixture in functions/sampling.py).
The DuckDB-oracle sweep covers the testdata distributions; these cover
the degenerate shapes the testdata doesn't contain."""

from __future__ import annotations

import pyspark.sql.functions as F

from pandasqlite_spark.functions.analytics import (
    _zorder_sql,
    mad_outliers,
    profile_table,
    scd2_history,
    table_checksum,
    transition_counts,
    value_histogram,
)
from pandasqlite_spark.functions.graph import triangle_count
from pandasqlite_spark.functions.sampling import sqrt_temperature_mixture
from pandasqlite_spark.functions.text import chunk_documents


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
    )


def test_mad_all_identical_values_has_no_outliers(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    ev = _events(spark, [(1, i, t, "view", 5.0) for i in range(4)])
    assert mad_outliers(ev).count() == 0  # mad = 0, dev = 0, 0 > 0 false


def test_mad_flags_the_single_spike(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [(1, i, t, "view", 10.0 + (i % 3)) for i in range(9)] + [(1, 99, t, "view", 1000.0)]
    out = mad_outliers(_events(spark, rows)).collect()
    assert [r.event_id for r in out] == [99]


def test_transition_counts_single_event_user_emits_nothing(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    ev = _events(spark, [(1, 1, t, "view", 1.0)])
    assert transition_counts(ev).count() == 0


def test_transition_counts_ordered_bigrams(spark):
    import datetime as dt

    rows = [
        (1, 1, dt.datetime(2024, 1, 1, 0, 0, 0), "view", 1.0),
        (1, 2, dt.datetime(2024, 1, 1, 0, 0, 1), "click", 1.0),
        (1, 3, dt.datetime(2024, 1, 1, 0, 0, 2), "click", 1.0),
        (2, 4, dt.datetime(2024, 1, 1, 0, 0, 3), "view", 1.0),
    ]
    got = {(r.from_type, r.to_type): r.n_trans for r in transition_counts(_events(spark, rows)).collect()}
    assert got == {("view", "click"): 1, ("click", "click"): 1}


def test_histogram_clips_to_last_bucket(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    ev = _events(spark, [(1, 1, t, "view", 10_000.0), (1, 2, t, "view", 0.0)])
    rows = {r.bucket: r.n for r in value_histogram(ev).collect()}
    assert rows == {0: 1, 9: 1}


def test_scd2_intervals_tile_and_current_flag(spark):
    import datetime as dt

    rows = [
        (1, 1, dt.datetime(2024, 1, 1, 0, 0, 0), "view", 10.0),   # tier 0
        (1, 2, dt.datetime(2024, 1, 1, 0, 0, 1), "view", 20.0),   # tier 0 (same island)
        (1, 3, dt.datetime(2024, 1, 1, 0, 0, 2), "view", 150.0),  # tier 1
        (1, 4, dt.datetime(2024, 1, 1, 0, 0, 3), "view", 30.0),   # tier 0 again (new island)
    ]
    out = scd2_history(_events(spark, rows)).collect()
    assert [r.tier for r in out] == [0, 1, 0]
    assert [r.n_events for r in out] == [2, 1, 1]
    # intervals tile: each valid_to equals the next valid_from
    assert out[0].valid_to_us == out[1].valid_from_us
    assert out[1].valid_to_us == out[2].valid_from_us
    assert [r.is_current for r in out] == [False, False, True]


def test_checksum_is_partition_order_independent(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_qty_int", F.col("l_quantity").cast("bigint")
    )
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_qty_int", "l_returnflag", "l_linestatus"]
    a = table_checksum(li, cols, "l_returnflag").collect()
    b = table_checksum(li.repartition(7, "l_partkey"), cols, "l_returnflag").collect()
    assert a == b


def test_checksum_detects_single_value_change(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, g string")
    mutated = spark.createDataFrame([(1, "a"), (3, "b")], "id bigint, g string")
    base = {r.g: r.checksum for r in table_checksum(df, ["id", "g"], "g").collect()}
    mut = {r.g: r.checksum for r in table_checksum(mutated, ["id", "g"], "g").collect()}
    assert base["a"] == mut["a"] and base["b"] != mut["b"]


def test_triangle_count_on_known_graph(spark):
    # K4 minus one edge = 2 triangles
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src bigint, dst bigint"
    )
    assert triangle_count(edges).collect()[0].n_triangles == 2


def test_chunking_boundaries_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(100))  # 100 tokens
    docs = spark.createDataFrame([(1, text), (2, "one"), (3, "   ")],
                                 "doc_id bigint, text string")
    out = chunk_documents(docs, size=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 100 tokens, stride 48 → ceil(100/48) = 3 chunks: 64, 52, 4 tokens
    assert [c.n_chunk_tokens for c in by_doc[1]] == [64, 52, 4]
    # overlap: chunk 1 starts at token 48, inside chunk 0's 64-token span
    assert by_doc[1][1].chunk_text.split()[0] == "t48"
    assert by_doc[1][0].chunk_text.split()[-1] == "t63"
    assert [c.n_chunk_tokens for c in by_doc[2]] == [1]
    # whitespace-only doc: split('\s+') of '' yields [''] (1 "token"),
    # matching the DuckDB oracle's identical convention
    assert 3 in by_doc


def test_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "x bigint, y string"
    )
    out = {r.col_name: r for r in profile_table(df, ["x", "y"]).collect()}
    assert out["x"].n_rows == 4 and out["x"].n_null == 1 and out["x"].n_distinct == 3
    assert out["y"].n_null == 1 and out["y"].n_distinct == 2


def test_zorder_interleaves_bits(spark):
    # x=3 (bits 11), y=1 (bit 1) → z = 1·1 + 1·4 (x bits 0,1) + 1·2 (y bit 0) = 7
    df = spark.createDataFrame([(3, 1)], "x bigint, y bigint")
    z = df.selectExpr(f"({_zorder_sql('x', 'y', 'div')}) AS z").collect()[0].z
    assert z == 7
    # locality: close (x,y) pairs → close z; distant x → distant z
    df2 = spark.createDataFrame([(0, 0), (1, 0), (128, 0)], "x bigint, y bigint")
    zs = [r.z for r in df2.selectExpr(f"({_zorder_sql('x', 'y', 'div')}) AS z").collect()]
    assert zs[1] - zs[0] < zs[2] - zs[0]


def test_chunking_plan_has_no_exchange(spark, sf_dir):
    from pandasqlite_spark.operators.common import load

    # the chunk fan-out itself is row-local: split→sequence→explode→slice
    # all inside the scan stage (sort=True adds only a presentation-order
    # range exchange for the oracle compare)
    docs = load(spark, sf_dir, "documents")
    plan = chunk_documents(docs, sort=False)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    sorted_plan = chunk_documents(docs, sort=True)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in sorted_plan  # presentation sort only


def test_checksum_plan_partial_aggregates(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = table_checksum(li, ["l_orderkey"], "l_returnflag")._jdf.queryExecution().executedPlan().toString()
    # two HashAggregates (partial + final) around exactly one hash
    # exchange: the shuffle carries one decimal per (partition, group),
    # not rows (the trailing range exchange is the presentation sort)
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_linreg_plan_partial_aggregates(spark, sf_dir):
    from pandasqlite_spark.functions.analytics import q_agg_linreg_exact

    plan = q_agg_linreg_exact(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2  # moment sums combine map-side


def test_sqrt_mixture_shares_sum_to_one_and_damp_large_sources(spark):
    docs = spark.createDataFrame(
        [(i, "x " * (10 if i % 10 else 1000), "big" if i % 10 == 0 else "small")
         for i in range(20)],
        "doc_id bigint, text string, source string",
    )
    out = {r.source: r for r in sqrt_temperature_mixture(docs).collect()}
    assert abs(out["big"].share + out["small"].share - 1.0) < 1e-9
    tok_ratio = out["big"].total_tokens / out["small"].total_tokens
    share_ratio = out["big"].share / out["small"].share
    assert 1 < share_ratio < tok_ratio  # damped but still larger
