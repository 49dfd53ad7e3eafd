"""User-defined function surface: the Python escape hatches, done the
fast way (SURVEY.md §2.A "extension point" — the reference's only UDF
is the driver-side ``llm_callback``; row-level Python enters here).

Two patterns, both Arrow-batched (never row-at-a-time Python UDFs):

- **Scalar ``pandas_udf``** — vectorized column math on Arrow batches.
  ~10-100× the throughput of a plain ``udf()`` because (de)serialization
  is columnar and the inner loop is numpy, not the Python interpreter.
- **``applyInPandas``** — grouped map: each group arrives as ONE pandas
  frame; the natural home for per-group model scoring / normalization.
  One shuffle on the group key; group size must fit an executor (bound
  it upstream for 100 TB inputs — here segments are bounded).

Both examples use integer/rational arithmetic so results are
bit-identical to the SQL oracle (a float mean/std would differ in the
last ulp between numpy's pairwise summation and SQL's streaming sum).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pandasqlite_spark.operators.common import load


def _weighted_len(text: pd.Series) -> pd.Series:
    """Vectorized scoring: 2·chars + spaces (exact integer math).
    Nullable Int64, not int64: a null text scores NULL (the SQL twin's
    semantics) — plain int64 would crash the Arrow worker on NaN."""
    return (text.str.len() * 2 + text.str.count(" ")).astype("Int64")


def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF over documents.  The plan shows ArrowEvalPython
    — one Python stage, columnar transfer, no shuffle.  (The UDF is
    wrapped lazily: ``pandas_udf`` parses its DDL return type against an
    active session, so decorating at import time would break
    session-less imports.)"""
    score = pandas_udf(_weighted_len, "long")
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", score(F.col("text")).alias("score"))


_ZSCHEMA = "c_custkey bigint, c_mktsegment string, pct_rank double"


def _pct_rank(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group percent-rank of acctbal (ties → min rank), computed in
    pandas: the grouped-map shape of a per-group normalizer.  Exact
    rational arithmetic ⇒ engine-portable."""
    n = len(pdf)
    r = pdf["c_acctbal"].rank(method="min")
    pct = (r - 1) / (n - 1) if n > 1 else r * 0.0
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "pct_rank": pct,
        }
    )


def q_grouped_pandas_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped map: per-segment percent-rank.  Equivalent
    to the SQL window (the oracle) — the point is exercising the
    grouped-Arrow path with a result SQL can verify."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(_pct_rank, _ZSCHEMA)
    )


def q_pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third pandas-UDF flavor, GROUPED_AGG: a whole group's column
    arrives as one pandas Series and reduces to a scalar — the shape
    for custom aggregates Spark lacks (here: per-type cents total,
    integer-summed so the result is partitioning-order-free and
    hash-exact; a float reduction would need a sort-or-compensated
    sum).  Arrow-batched like the scalar flavor; the aggregation
    shuffles once on the group key with NO map-side combine (the UDF is
    a black box to Catalyst) — prefer built-in aggregates when they
    exist, reach for GROUPED_AGG only for semantics they can't express."""
    from pandasqlite_spark.operators.common import load_events

    @pandas_udf("long")
    def cents_total(v: pd.Series) -> int:
        return int(v.sum())

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    # NOTE: a GROUPED_AGG UDF cannot mix with built-in aggregates in
    # the same agg() (INVALID_PANDAS_UDF_PLACEMENT under ANSI/arrow
    # sessions) — the count is a second pandas aggregate.
    ev = load_events(spark, sf_dir).select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            cents_total(F.col("cents")).alias("cents_total"),
            n_rows(F.col("cents")).alias("n_events"),
        )
        .orderBy("event_type")
    )


def _arrow_quantize(batches):
    """mapInArrow body: int8-quantize embeddings batch-by-batch in
    pyarrow/numpy — zero pandas conversion.  floor(x·127 + 0.5) clamped
    to [-127, 127], the same engine-portable rounding contract as
    ``embedding-quantize``."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        tbl = pa.table(batch)
        vec_ids = tbl.column("vec_id")
        emb = tbl.column("embedding")
        out_codes = []
        for arr in emb.chunks if hasattr(emb, "chunks") else [emb]:
            flat = np.asarray(arr.values, dtype=np.float64)
            codes = np.clip(np.floor(flat * 127.0 + 0.5), -127, 127).astype(np.int32)
            out_codes.append(pa.ListArray.from_arrays(arr.offsets, pa.array(codes)))
        codes_col = pa.chunked_array(out_codes) if len(out_codes) > 1 else out_codes[0]
        yield pa.record_batch(
            [vec_ids.combine_chunks() if hasattr(vec_ids, "combine_chunks") else vec_ids,
             codes_col],
            names=["vec_id", "codes"],
        )


def q_arrow_batch_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the fourth Python-integration surface after
    scalar pandas_udf, applyInPandas, and mapInPandas: the UDF receives
    raw ``pyarrow.RecordBatch``es with NO pandas materialization, the
    cheapest possible Python hop (numpy views straight over Arrow
    buffers — for array columns this skips pandas' object-per-list
    boxing entirely).  Partition-local, zero shuffle; the quantization
    arithmetic matches the SQL oracle bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(_arrow_quantize, "vec_id bigint, codes array<int>")


class _SplitSentences:
    """UDTF body: one input row → N (pos, sentence) rows.  Sentence
    boundary = runs of [.!?]; empty fragments drop; positions number
    the surviving fragments."""

    def eval(self, text: str):
        if text is None:
            return
        import re as _re

        parts = [s.strip() for s in _re.split(r"[.!?]+", text) if s.strip()]
        for i, s in enumerate(parts):
            yield (i, s)


def q_udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) — the fifth Python surface after
    scalar pandas_udf, applyInPandas, mapInPandas, and mapInArrow: one
    row IN, a variable number of rows OUT, consumed via LATERAL join.
    The row-fan-out shape built-in generators (explode) can't express
    when the expansion needs imperative logic.  UDTFs evaluate
    row-at-a-time in Python — fine for a bounded lateral expansion,
    NOT for a 100 TB hot path; the repo's hot-path fan-outs (chunking,
    shingles) stay as codegen'd transform/explode expressions, and the
    plan-audit's BatchEvalPython flag keeps it that way."""
    from pyspark.sql.functions import udtf

    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    spark.udtf.register(
        "split_sentences", udtf(_SplitSentences, returnType="pos int, sentence string")
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


ORACLES: dict[str, str] = {
    "pandas-udf-grouped-agg": """
        SELECT event_type,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "udtf-split-sentences": r"""
        WITH raw AS (
          SELECT doc_id,
                 trim(unnest(regexp_split_to_array(text, '[.!?]+')),
                      ' ' || chr(9) || chr(10) || chr(13)) AS sentence,
                 generate_subscripts(regexp_split_to_array(text, '[.!?]+'), 1)
                   AS orig_pos
          FROM documents)
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY orig_pos)
                    - 1 AS INTEGER) AS pos,
               sentence
        FROM raw WHERE sentence <> ''
    """,
    "arrow-batch-quantize": """
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(GREATEST(-127, LEAST(127,
                        FLOOR(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS INTEGER))
                 AS codes
        FROM embeddings
    """,
    "pandas-udf-score": """
        SELECT doc_id,
               CAST(length(text) * 2
                    + (length(text) - length(replace(text, ' ', ''))) AS BIGINT)
                 AS score
        FROM documents
    """,
    "grouped-pandas-rank": """
        SELECT c_custkey, c_mktsegment,
               -- null-pin: pandas rank() leaves NaN unranked (NULL);
               -- SQL percent_rank would assign the null rows the top
               -- ranks under NULLS LAST — emit NULL for them instead
               CASE WHEN c_acctbal IS NULL THEN NULL
                    ELSE percent_rank() OVER (
                      PARTITION BY c_mktsegment
                      ORDER BY c_acctbal NULLS LAST) END AS pct_rank
        FROM customer
    """,
}

QUERIES = {
    "pandas-udf-grouped-agg": q_pandas_udf_grouped_agg,
    "pandas-udf-score": q_pandas_udf_score,
    "grouped-pandas-rank": q_grouped_pandas_rank,
    "arrow-batch-quantize": q_arrow_batch_quantize,
    "udtf-split-sentences": q_udtf_split_sentences,
}
