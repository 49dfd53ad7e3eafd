"""Deterministic synthetic-table source (Spark 4 Python Data Source).

The benchmark-generator pattern (TPC dbgen, dsdgen): a *source* that
manufactures rows instead of reading files, planned as N independent
``InputPartition``s so generation parallelizes across the cluster with
no driver-side data and no shuffle — each partition derives its slice
``[lo, hi)`` from the row-count option and emits rows that are a pure
function of the row id.  At 100 TB-generation scale this is exactly how
synthetic corpora and load harnesses are produced.

Row contract (the cross-engine determinism trick used repo-wide): every
generated value derives from ``md5(str(id))``, so a SQL engine can
regenerate the identical table — the DuckDB oracle for
``scan-python-datasource`` rebuilds these rows from ``generate_series``
and compares value hashes.

API note: ``spark.dataSource.register`` pickles the class to Python
workers.  The package registers itself for pickle-by-value on import,
so the pickled class carries its own code and the workers need not
import this module (the same as every pandas-UDF operator).
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class _Slice(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class DetGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        per = (self.n + self.parts - 1) // self.parts
        return [
            _Slice(i * per, min((i + 1) * per, self.n))
            for i in range(self.parts)
            if i * per < self.n
        ]

    def read(self, partition):
        for i in range(partition.lo, partition.hi):
            h = hashlib.md5(str(i).encode()).hexdigest()
            h16 = int(h[:4], 16)
            yield (i, h16, h16 % 10, round(h16 / 65536.0, 9))


class DetGenDataSource(DataSource):
    """``spark.read.format("detgen").option("n", ...)`` — rows are a
    pure function of the row id; any engine can regenerate them."""

    @classmethod
    def name(cls):
        return "detgen"

    def schema(self):
        return "id bigint, h16 bigint, bucket bigint, val double"

    def reader(self, schema):
        return DetGenReader(self.options)

    def simpleStreamReader(self, schema):
        return DetGenStreamReader(self.options)


def _row(i: int):
    h = hashlib.md5(str(i).encode()).hexdigest()
    h16 = int(h[:4], 16)
    return (i, h16, h16 % 10, round(h16 / 65536.0, 9))


class DetGenStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the generator (Spark 4 Python *streaming*
    data source): offsets are plain row positions, each micro-batch
    emits the next ``batch`` rows until ``n`` — so the WHOLE stream is
    a pure function of the options, replayable from any offset range
    (``readBetweenOffsets`` regenerates instead of buffering — exactly
    how a replayable source should implement recovery)."""

    def __init__(self, options):
        self.n = int(options.get("n", 200))
        self.batch = int(options.get("batch", 64))

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start):
        lo = int(start["pos"])
        hi = min(lo + self.batch, self.n)
        return iter([_row(i) for i in range(lo, hi)]), {"pos": hi}

    def readBetweenOffsets(self, start, end):
        return iter([_row(i) for i in range(int(start["pos"]), int(end["pos"]))])




class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class JsonlSinkWriter(DataSourceWriter):
    """Task-side writer: each partition streams its rows into one
    JSON-lines file under the target directory.  Files are named by
    uuid (task-unique); exactly-once lands via the commit protocol —
    uncommitted files from failed attempts are ignored by readers that
    honor the manifest the driver writes on commit()."""

    def __init__(self, options):
        self.path = options.get("path")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fn = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fn, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return _JsonlCommit(fn, n)

    def commit(self, messages):
        import json
        import os

        manifest = {
            "files": sorted(os.path.basename(m.path) for m in messages),
            "rows": sum(m.n for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    """Python DataSource WRITER (Spark 4 API) — the sink counterpart of
    DetGenDataSource: df.write.format("pyjsonl").option("path", dir)
    lands JSON-lines with a driver-side commit manifest.  The escape
    hatch for sinks Spark lacks a connector for (internal services,
    bespoke formats) without leaving the DataFrame writer API."""

    @classmethod
    def name(cls):
        return "pyjsonl"

    def writer(self, schema, overwrite):
        return JsonlSinkWriter(self.options)


def register(spark) -> None:
    # The classes travel by value (the package registers itself with
    # cloudpickle on import), so the batch readers on the executors and
    # the streaming source's separate driver-side Python runner unpickle
    # them without importing this package.
    spark.dataSource.register(DetGenDataSource)
    spark.dataSource.register(JsonlSinkDataSource)


def q_write_python_datasource(spark, sf_dir: str):
    """Writer round trip: nation flows out through the pyjsonl Python
    sink (per-partition task files + commit manifest) and back in via
    spark.read.json with an explicit schema; the oracle is the source
    table itself, so the value hash proves write fidelity.  Each call
    writes to a fresh temp directory, so concurrent runs never share
    (and double) their output."""
    import os

    from pandasqlite_spark.operators.common import load, scratch_dir

    register(spark)
    out = os.path.join(scratch_dir("pyjsonl"), "nation_pyjsonl")
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    src.write.format("pyjsonl").option("path", out).mode("append").save()
    return (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .json(out + "/part-*.jsonl")
        .orderBy("n_nationkey")
    )


def q_scan_python_datasource(spark, sf_dir: str):
    """Generate 10,000 rows across 8 planned partitions and aggregate
    per bucket — proving both the partition planning (8 independent
    slices, no driver data) and the value contract (the DuckDB oracle
    regenerates every row from generate_series + md5)."""
    from pyspark.sql import functions as F

    register(spark)
    df = spark.read.format("detgen").option("n", "10000").option("parts", "8").load()
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("h16").alias("h16_total"),
            F.round(F.sum(F.col("val").cast("decimal(18,9)")).cast("double"), 6).alias(
                "val_total"
            ),
        )
        .orderBy("bucket")
    )


def q_scan_python_stream_source(spark, sf_dir: str):
    """The generator as a STREAMING source, drained to a memory sink:
    200 rows arrive across several micro-batches (batch=64 ⇒ 4
    batches), and the appended union must equal the batch-regenerable
    row set — proving offset bookkeeping and replay determinism, not
    just row generation.  The aggregation collapses the arrival order
    so the check is batching-invariant.  A stream that has not drained
    within ``STREAM_DRAIN_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``."""
    from pyspark.sql import functions as F

    from pandasqlite_spark.streaming.events import _await_drained

    register(spark)
    df = (
        spark.readStream.format("detgen")
        .option("n", "200")
        .option("batch", "64")
        .load()
    )
    # availableNow only drains the first prefetched simple-reader batch,
    # so drive with a tight processing-time trigger and stop at the
    # first COMPLETED empty batch (source exhausted at pos == n).
    name = "stream_pyds_result"
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    _await_drained(q, name, lambda p: p["numInputRows"] == 0 and p["batchId"] > 0)
    q.stop()
    q.awaitTermination(30)
    return (
        spark.table(name)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("h16").alias("h16_total"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
        .orderBy("bucket")
    )


QUERIES = {
    "write-python-datasource": q_write_python_datasource,
    "scan-python-datasource": q_scan_python_datasource,
    "scan-python-stream-source": q_scan_python_stream_source,
}

ORACLES = {
    "write-python-datasource":
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "scan-python-stream-source": """
        WITH g AS (
          SELECT i.range AS id,
                 ('0x' || substr(md5(CAST(i.range AS VARCHAR)), 1, 4))::BIGINT AS h16
          FROM range(0, 200) i),
        rows_ AS (SELECT id, h16, h16 % 10 AS bucket FROM g)
        SELECT bucket, COUNT(*) AS n,
               CAST(SUM(h16) AS BIGINT) AS h16_total,
               MIN(id) AS first_id, MAX(id) AS last_id
        FROM rows_ GROUP BY bucket ORDER BY bucket
    """,
    "scan-python-datasource": """
        WITH g AS (
          SELECT i.range AS id,
                 ('0x' || substr(md5(CAST(i.range AS VARCHAR)), 1, 4))::BIGINT AS h16
          FROM range(0, 10000) i),
        rows_ AS (
          SELECT id, h16, h16 % 10 AS bucket,
                 ROUND(h16 / 65536.0, 9) AS val
          FROM g)
        SELECT bucket, COUNT(*) AS n,
               CAST(SUM(h16) AS BIGINT) AS h16_total,
               ROUND(CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE), 6) AS val_total
        FROM rows_ GROUP BY bucket ORDER BY bucket
    """,
}
