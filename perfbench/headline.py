"""``headline``: operator queries from ``bench.py``, each written to the noop sink.

Why: it exercises operator and function plan build (driver jobs that run
before a DataFrame is returned), the ``mapInPandas`` kernels in Python
workers, and shuffles, and it bypasses ``core.*``.

The run uses five of ``bench.py``'s twenty queries, one per layer it
stresses: q9 (row-local text expressions, no shuffle), q1 (scan and
aggregate, one build job), q11 (TPC-H Q5: joins, about one build job
per table read), q15 (PQ search, a numpy kernel in Python workers) and
q19 (IVF retrieval, the heaviest plan build plus Python-worker kernels).
A first pass over all twenty with a cold JVM takes 40-55 s on a 4-vCPU
host, more than a whole benchmark run may take.  Their latencies are
far apart and equally frequent, so the median falls in the middle
query's latencies (q11) and the 90th percentile in the slowest one's
(q19), not between two queries.

Each operation is one query, timed in two parts: the builder call that
returns the DataFrame (plan build) and the write to the ``noop`` sink
(execution).  Passes run the queries in a seeded order; the timed loop
ends only at the end of a pass, so every run times each query equally
often.  Set-up runs WARM_PASSES untimed passes: the first records each
query's row count and an order-insensitive fingerprint, and every later
execution must reproduce both.  The JVM is still warming after them: on
a 4-vCPU host the process tree's CPU per pass fell from 15-19 s in the
second pass to a steady 9.5-11 s from the fifth on, and its wall time
from 5.4-6.4 s to 4.6-5.2 s.  So the timed loop always covers the same
passes (three passes take longer than a 12-s loop), and ``cpu_ops``
counts CPU over exactly those three.  Each further warm pass would cost
every run about 5 s of set-up.  The fingerprint is collected with
``DataFrame.observe`` during the same write, so checking costs no extra
Spark job.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARM_PASSES = 2
QUERIES = (
    "q1_pricing_summary",
    "q9_text_quality",
    "q11_tpch_q5",
    "q15_simsearch_pq",
    "q19_ivf_knn_join",
)

LAYER_METRICS = {
    f"headline.{q}.{m}": unit
    for q in QUERIES
    for m, unit in (("build_ms", "ms"), ("build_jobs", "count"), ("exec_ms", "ms"), ("py_workers_cpu_s", "s"))
}


def _canon(col, dtype):
    """Column expression whose hash does not depend on float rounding noise."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.9e", col)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def _observed(df):
    obs = Observation()
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp"),
    ), obs


class Workload:
    cpu_ops = 3 * len(QUERIES)  # CPU is counted over the first three timed passes

    def __init__(self, seed: int, tables, run_dir, seconds: float):
        import bench

        self.data_dir = str(tables)
        every = bench._queries(self.data_dir)
        self.fns = {q: every[q] for q in QUERIES}
        self.rng = random.Random(seed)
        self.orders: list[list[str]] = []
        self.expected: dict[str, tuple] = {}
        self.tracer = None

    def _order(self, p: int) -> list[str]:
        while len(self.orders) <= p:
            order = list(QUERIES)
            self.rng.shuffle(order)
            self.orders.append(order)
        return self.orders[p]

    def _query(self, q: str):
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.data_dir)
        t1 = time.perf_counter()
        df, obs = _observed(df)
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        got = obs.get
        return t1 - t0, t2 - t1, (got["rows"], got["fp"])

    def setup(self, spark, tracer) -> tuple[int, int]:
        """The warm-up passes; the first records the expected outputs."""
        self.spark = spark
        failed = 0
        for p in range(WARM_PASSES):
            for q in self._order(p):
                try:
                    out = self._query(q)[2]
                    if p == 0:
                        self.expected[q] = out
                    else:
                        failed += self.expected.get(q) != out
                except Exception:
                    import traceback

                    traceback.print_exc()
                    failed += 1
        return WARM_PASSES * len(QUERIES), failed

    def _op(self, i: int):
        q = self._order(WARM_PASSES + i // len(QUERIES))[i % len(QUERIES)]
        if self.tracer is None:
            build_s, exec_s, out = self._query(q)
        else:
            build_s, exec_s, out = self._traced_query(q)
        return build_s + exec_s, self.expected.get(q) == out, q

    def _traced_query(self, q: str):
        with self.tracer.span("build"):
            t0 = time.perf_counter()
            df = self.fns[q](self.spark, self.data_dir)
            t1 = time.perf_counter()
        with self.tracer.span("exec"):
            df, obs = _observed(df)
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        got = obs.get
        return t1 - t0, t2 - t1, (got["rows"], got["fp"])

    def run_op(self, i: int):
        if self.tracer is None:
            return self._op(i)
        with self.tracer.op(f"op{i}") as rec:
            rec["ok"] = False
            lat, rec["ok"], rec["query"] = self._op(i)
        return lat, rec["ok"], rec["query"]

    def may_stop(self, i: int) -> bool:
        return i % len(QUERIES) == 0

    def finish(self) -> int:
        return 0

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer, groups: dict, events: dict) -> dict:
        op_query = {s["op"]: s["query"] for s in tracer.spans if s["name"] == "op" and "query" in s}
        runs = {q: sum(1 for v in op_query.values() if v == q) for q in QUERIES}
        out = {name: 0.0 for name in LAYER_METRICS}
        for s in tracer.spans:
            q = op_query.get(s["op"])
            if q is None or s["name"] not in ("build", "exec"):
                continue
            n = runs[q]
            out[f"headline.{q}.{s['name']}_ms"] += (s["end"] - s["start"]) * 1e3 / n
            out[f"headline.{q}.py_workers_cpu_s"] += s["cpu"]["py_workers"] / n
            if s["name"] == "build":
                out[f"headline.{q}.build_jobs"] += groups[s["group"]]["jobs"] / n
        return out
