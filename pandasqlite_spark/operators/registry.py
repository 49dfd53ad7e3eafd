"""Assembles the full queries()/oracle_sql() surface for the driver.

Merges the relational surface (SURVEY.md §2.B), the pipeline operators
(§2.A: ingest round-trip, sampling, text2sql e2e), and the
LLM-data-pipeline extensions (§2.D: dedup, similarity, text analysis,
event windows).  Keys without an oracle entry are genuinely
non-SQL-expressible (or rely on engine-specific hashing) and get the
driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _modules():
    from pandasqlite_spark.operators import advanced, extended, pipeline, relational, scale, tpch
    from pandasqlite_spark.functions import (
        analytics,
        evalmetrics,
        stats,
        geo,
        clustering,
        curate,
        dedup,
        graph,
        multimodal,
        sampling,
        similarity,
        sketches,
        text,
        timeseries,
        udfs,
    )
    from pandasqlite_spark.sources import generator as pyds_generator
    from pandasqlite_spark.streaming import events as streaming_events

    return (
        pyds_generator,
        relational,
        advanced,
        extended,
        scale,
        tpch,
        pipeline,
        dedup,
        sampling,
        multimodal,
        similarity,
        sketches,
        clustering,
        curate,
        graph,
        geo,
        analytics,
        evalmetrics,
        stats,
        text,
        timeseries,
        udfs,
        streaming_events,
    )


def _merged(attr: str) -> dict:
    """Union of every module's ``attr`` dict.  A key defined by two
    modules raises: a silent ``dict.update`` would let the later module
    shadow the earlier one's query or oracle."""
    out: dict = {}
    owner: dict[str, str] = {}
    for m in _modules():
        for key, value in getattr(m, attr, {}).items():
            if key in owner:
                raise ValueError(
                    f"{attr} key {key!r} is defined by both {owner[key]} and {m.__name__}"
                )
            owner[key] = m.__name__
            out[key] = value
    return out


def queries() -> dict[str, QueryFn]:
    return _merged("QUERIES")


def oracle_sql() -> dict[str, str]:
    return _merged("ORACLES")


def oracle_sql_big() -> dict[str, str]:
    """Staged (multi-statement) DuckDB oracles for keys whose
    single-statement oracle is disk-infeasible at big SFs: each
    intermediate is materialized ONCE into a temp table instead of a
    multiply-referenced CTE, bounding the verifier's temp spill.
    Semantically identical to the registry oracle — the sweep harness
    prefers these when present; the driver's sf0.01 gate keeps using
    ``oracle_sql()``."""
    return _merged("ORACLES_BIG")
