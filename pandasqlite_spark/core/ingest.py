"""Batch ingestion: hash → cache → sanitize → store → enrich → persist.

Spark-native re-expression of the reference's ``ingest`` (reference
``pandasqlite/pandasqlite.py:57-180``).  Control flow preserved:

1. sanity-check the LLM callback (``:68``)
2. batch content hash (``:74-76``) — distributed here (SURVEY.md §1.3)
3. cache probe; hit ⇒ re-register cached tables and return (``:81-86``)
4. per frame: sanitize column names (``:94``), frame hash = table name
   (``:97-99``), materialize (``:114-115``; here: parquet + a temp
   view, ``cache.register_view``), DDL (``:116-121``; rendered from
   ``df.schema``), 5-value snapshot (``:126``), LLM column types /
   column descriptions / enum values + descriptions / SQL curriculum
   (``:129-171``)
5. persist metadata, return ``(ingestion_results, spark, batch_hash)``

Differences by design: inputs may be pandas frames (API parity), Spark
DataFrames, or file paths (csv/parquet/json — the scale path: data never
moves through the driver); storage is parquet, not SQLite; no implicit
pandas ``index`` column is added (the reference inherits it from
``to_sql``; it carries no information and would poison dedup/hashing at
scale — ``with_index=True`` restores it for strict fidelity).

A pandas input already lives in the driver, so it is made one
partition, whatever its size: one task writes it as one parquet file,
as the reference stores it in one SQLite file.  (Left to Spark, a frame
is sliced into at least ``defaultParallelism`` partitions, each written
as its own file: 4 files for 300 rows, 300 for 3 M rows on 4 cores.)
A large frame's file is one row group, which one task scans.  Every view (persisted, re-opened
or not) is registered by ``cache.register_view`` or
``cache.register_table``, which coalesce it to one partition only when
its scan already plans one.
"""

from __future__ import annotations

import json
from typing import Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandasqlite_spark.core import cache as _cache
from pandasqlite_spark.core.ddl import render_create_table
from pandasqlite_spark.core.hashing import combine_hashes, hash_pandas, hash_spark
from pandasqlite_spark.core.llm import LLMCallback, sanity_check
from pandasqlite_spark.core.prompts import (
    SEMANTIC_TYPES,
    column_descriptions_prompt,
    column_types_prompt,
    enum_descriptions_prompt,
    sql_curriculum_prompt,
)
from pandasqlite_spark.core.sampling import distinct_enum_values, snapshot_data
from pandasqlite_spark.core.sanitize import sanitize_columns

FrameLike = Union[pd.DataFrame, DataFrame, str]


def _to_spark(spark: SparkSession, obj: FrameLike, with_index: bool) -> tuple[DataFrame, str | None]:
    """Normalize an input to (Spark DataFrame, precomputed-hash-or-None)."""
    if isinstance(obj, pd.DataFrame):
        h = hash_pandas(obj)  # reference-faithful hash for pandas inputs
        pdf = obj.reset_index() if with_index else obj
        if with_index:
            pdf = pdf.rename(columns={pdf.columns[0]: "index"})
        return spark.createDataFrame(pdf).coalesce(1), h
    if isinstance(obj, DataFrame):
        return obj, None
    if isinstance(obj, str):
        low = obj.lower()
        if low.endswith(".csv"):
            # dates stay strings, like pd.read_csv in the reference demo
            return spark.read.option("header", True).option("inferSchema", True).csv(obj), None
        if low.endswith(".json") or low.endswith(".jsonl"):
            return spark.read.json(obj), None
        return spark.read.parquet(obj), None
    raise TypeError(f"cannot ingest {type(obj)!r}")


def _parse_json(reply: str, default):
    try:
        starts = [i for i in (reply.find("{"), reply.find("[")) if i >= 0]
        start = min(starts)
        opener = reply[start]
        end = reply.rindex("}" if opener == "{" else "]") + 1
        # a bare NaN (pandas' missing value) reads as the string "NaN"
        return json.loads(reply[start:end], parse_constant=lambda c: c if c == "NaN" else float(c))
    except ValueError:
        # no JSON in the reply (min of no openers, no closer) or bad JSON
        # (JSONDecodeError); curriculum JSON errors are swallowed in the
        # reference too (pandasqlite.py:164-171), leaving the field None
        return default


def ingest(
    spark: SparkSession,
    dfs: "list[FrameLike] | str",
    llm_callback: LLMCallback | None = None,
    *,
    persist: bool = True,
    with_index: bool = False,
) -> tuple[list[dict], SparkSession, str]:
    """Ingest a batch of frames; returns (ingestion_results, spark, hash).

    ``dfs`` may also be a prior batch hash (reference ``:71-72``) to
    re-open a cached ingestion; unknown hashes raise ``KeyError`` (the
    reference raises a bare string, a TypeError in py3 — ``:88-89``).
    """
    if isinstance(dfs, str):
        meta = _cache.load_metadata(dfs)
        if meta is None:
            raise KeyError(f"Hash not found: {dfs}")
        for m in meta:
            _cache.register_table(spark, m["hash"])
        return meta, spark, dfs

    if llm_callback is not None:
        sanity_check(llm_callback)

    frames: list[tuple[DataFrame, str]] = []
    for obj in dfs:
        sdf, pre_hash = _to_spark(spark, obj, with_index)
        sdf = sanitize_columns(sdf)
        frames.append((sdf, pre_hash or hash_spark(sdf)))

    batch_hash = combine_hashes([h for _, h in frames])

    # cache only interplays with persisted tables: a metadata hit must
    # be able to re-register the hash-named parquet
    cached = _cache.load_metadata(batch_hash) if persist else None
    if cached is not None:
        for m in cached:
            _cache.register_table(spark, m["hash"])
        return cached, spark, batch_hash

    results: list[dict] = []
    for sdf, frame_hash in frames:
        if persist:
            _cache.save_table(sdf, frame_hash)
            sdf = _cache.register_table(spark, frame_hash)
        else:
            sdf = _cache.register_view(sdf, frame_hash)

        ddl = render_create_table(frame_hash, sdf.schema)
        samples = snapshot_data(sdf)

        result: dict = {
            "context": None,
            "column_types": None,
            "value_format": samples,
            "column_descriptions": None,
            "enum_descriptions": None,
            "sql_curriculum": None,
            "hash": frame_hash,
            "ddl": ddl,
        }

        if llm_callback is not None:
            types = _parse_json(llm_callback(column_types_prompt(samples)), {})
            result["column_types"] = {
                c: (t if t in SEMANTIC_TYPES else "TEXT") for c, t in types.items()
            }
            result["column_descriptions"] = _parse_json(
                llm_callback(column_descriptions_prompt(ddl, samples)), {}
            )
            enum_cols = [c for c, t in (result["column_types"] or {}).items() if t == "ENUM"]
            # case-insensitive: LLM sees lowercased sample keys
            by_lower = {c.lower(): c for c in sdf.columns}
            enum_cols = [by_lower.get(c.lower(), c) for c in enum_cols]
            enums = distinct_enum_values(sdf, enum_cols)
            result["enum_descriptions"] = {
                col: _parse_json(llm_callback(enum_descriptions_prompt(col, vals)), {})
                for col, vals in enums.items()
            }
            result["sql_curriculum"] = _parse_json(
                llm_callback(sql_curriculum_prompt(ddl, samples)), None
            )

        results.append(result)

    if persist:
        _cache.save_metadata(batch_hash, results)
    return results, spark, batch_hash
