"""Ingestion cache: metadata keyed by content hash, data as parquet.

Reference semantics (``pandasqlite/pandasqlite.py:21, 77, 81-86,
175-177``): pickle ``ingestion_results`` under ``$PANDASQLITE_CACHE_DIR``
(default ``cache/``) keyed by the batch hash, and reuse the SQLite DB
file named by the same hash.  Reference bug kept out: the DB path there
is hardcoded to ``cache/`` regardless of the env var; we honor the
configured dir for both.

Rebuild: metadata as JSON (it is JSON-shaped by construction), table
data as hash-named parquet directories — so a cache hit re-registers
parquet (a metadata operation) instead of re-writing data.  Parquet
keeps the 100 TB path open: partitioned, column-pruned, predicate-
pushdown-friendly storage instead of a single SQLite file.

Every ingested view is registered by :func:`register_view` or, when
re-opened from the cache, :func:`register_table`.  A table whose scan
already plans one partition is registered as ``coalesce(1)`` of that
scan, which Catalyst knows to be a single partition: an aggregate,
GROUP BY or ORDER BY over it needs no Exchange, so a question over a
small table runs as one Spark job instead of one per AQE stage plus a
range sample.  Filters and column pruning still reach the scan.  A
table that scans as two or more partitions is registered as it is,
and so is a frame whose plan has an exchange, broadcast, subquery or
cached relation: counting its partitions would run that work first.
A cached table's answer is kept per Spark application, so a cache hit
does not plan its tables again.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

ENV_VAR = "PANDASQLITE_SPARK_CACHE_DIR"


def cache_dir() -> Path:
    return Path(os.environ.get(ENV_VAR, "cache"))


def _meta_path(batch_hash: str) -> Path:
    return cache_dir() / f"{batch_hash}.json"


def table_path(frame_hash: str) -> Path:
    return cache_dir() / "tables" / frame_hash


def load_metadata(batch_hash: str) -> list[dict] | None:
    p = _meta_path(batch_hash)
    if not p.exists():
        return None
    return json.loads(p.read_text())


def save_metadata(batch_hash: str, ingestion_results: list[dict]) -> None:
    p = _meta_path(batch_hash)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(ingestion_results, indent=1, default=str))


def save_table(df: DataFrame, frame_hash: str) -> str:
    """Persist a frame as hash-named parquet (idempotent by content hash)."""
    path = table_path(frame_hash)
    if not (path / "_SUCCESS").exists():
        df.write.mode("overwrite").parquet(str(path))
    return str(path)


# (Spark application id, table path) -> whether the table's scan plans one
# partition.  A cached table's files never change: its path is its content hash.
_ONE_PARTITION: dict[tuple[str, str], bool] = {}


def _builds_without_a_job(plan) -> bool:
    """Whether building the RDD of the physical ``plan`` runs no Spark job:
    no exchange or broadcast stage (AQE wraps any plan that has one), no
    subquery and no cached relation to materialize first."""
    name = plan.getClass().getSimpleName()
    if name in ("AdaptiveSparkPlanExec", "InMemoryTableScanExec") or "Exchange" in name:
        return False
    if not plan.subqueries().isEmpty():
        return False
    kids = plan.children()
    return all(_builds_without_a_job(kids.apply(i)) for i in range(kids.size()))


def _plans_one_partition(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan()
    return _builds_without_a_job(plan) and plan.execute().getNumPartitions() == 1


def _register(df: DataFrame, frame_hash: str, one_partition: bool) -> DataFrame:
    if one_partition:
        df = df.coalesce(1)
    df.createOrReplaceTempView(f"`{frame_hash}`")
    return df


def register_view(df: DataFrame, frame_hash: str) -> DataFrame:
    """Register ``df`` as the temp view named by its hash and return the
    registered frame: ``df.coalesce(1)`` when ``df`` already plans one
    partition (the scan is unchanged; Catalyst then sees a single
    partition), ``df`` itself otherwise."""
    return _register(df, frame_hash, _plans_one_partition(df))


def register_table(spark: SparkSession, frame_hash: str) -> DataFrame:
    """Re-register a cached table as a temp view named by its hash."""
    path = str(table_path(frame_hash))
    df = spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    if key not in _ONE_PARTITION:
        _ONE_PARTITION[key] = _plans_one_partition(df)
    return _register(df, frame_hash, _ONE_PARTITION[key])
