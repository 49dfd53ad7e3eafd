"""``ask``: the paper's text2sql path, question in, rows out.

Why: it exercises the per-question fixed costs of small queries (prompt
assembly, the LLM round trip, dialect rewrite, Catalyst analysis, the
repair loop, a few small Spark jobs) and bypasses the heavy kernels.

Set-up ingests four star-schema tables with enrichment, then asks
each question shape twice.  Each operation sends the next question of a
seeded stream through ``text2sql.run_with_repair`` and ``collect()``s
the answer, which must equal DuckDB's answer to the intended SQL over
the same parquet.  The LLM is an in-process stub with no latency: it
answers enrichment prompts the way ``FakeLLM`` does (marking the
categorical columns ENUM) and questions with a chatty completion around
fenced SQL.

Every block of 20 questions holds each template a fixed number of times
(seeded order and parameters), so every run asks the same mix:

- 6 ``plain`` questions whose SQL runs as written;
- 5 ``sqlite`` questions with SQLite-isms (``strftime``,
  ``GROUP_CONCAT``, double-quoted literals) for the dialect rewriter;
- 3 ``bare`` questions with a bare column beside an aggregate, which the
  deterministic repair fixes (a second analysis);
- 6 ``wrong`` questions that name a wrong column first and need one LLM
  repair turn (a second prompt, LLM call and analysis).

The slowest shape, a wrong column in a three-table join, makes up 4 of
the 20, so the 90th percentile falls in the middle of its latencies; the
median falls among the one- and two-table shapes, which take about the
same time.  Neither cut point sits between two shapes of different cost.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq

from pandasqlite_spark.core import text2sql as t2s
from pandasqlite_spark.core.ingest import ingest
from pandasqlite_spark.core.llm import FakeLLM

TABLES = ("orders", "customer", "nation", "region")
ENUM_COLUMNS = {"o_orderstatus", "o_orderpriority", "c_mktsegment", "r_name"}
WARM_ROUNDS = 2

YEARS = list(range(1995, 2002))
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PRICES = [100000, 200000, 300000, 400000]

# (class, questions per block of 20, question, SQL the model writes first,
# SQL after a repair turn or None, the intended SQL for DuckDB, columns
# compared as unordered lists).  {O} {C} {N} {R} are the ingested tables'
# view names.
TEMPLATES = [
    ("plain", 2, "How many orders per priority were placed in {y}?",
     "SELECT o_orderpriority, COUNT(*) AS n FROM {O} WHERE year(o_orderdate) = {y} "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority", None,
     "SELECT o_orderpriority, COUNT(*) FROM orders WHERE year(o_orderdate) = {y} GROUP BY 1", ()),
    ("plain", 2, "Which five {seg} customers have the highest account balance?",
     "SELECT c_custkey, c_name, c_acctbal FROM {C} WHERE c_mktsegment = '{seg}' "
     "ORDER BY c_acctbal DESC, c_custkey LIMIT 5", None,
     "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = '{seg}' "
     "ORDER BY c_acctbal DESC, c_custkey LIMIT 5", ()),
    ("plain", 2, "How many customers does each nation of {region} have?",
     "SELECT n_name, COUNT(*) AS n FROM {C} JOIN {N} ON c_nationkey = n_nationkey "
     "JOIN {R} ON n_regionkey = r_regionkey WHERE r_name = '{region}' GROUP BY n_name", None,
     "SELECT n_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey WHERE r_name = '{region}' GROUP BY n_name", ()),
    ("sqlite", 2, "How many {p} orders were placed in each month of {y}?",
     "SELECT strftime('%m', o_orderdate) AS month, COUNT(*) AS n FROM {O} "
     "WHERE strftime('%Y', o_orderdate) = '{y}' AND o_orderpriority = '{p}' "
     "GROUP BY month ORDER BY month", None,
     "SELECT strftime(o_orderdate, '%m'), COUNT(*) FROM orders WHERE year(o_orderdate) = {y} "
     "AND o_orderpriority = '{p}' GROUP BY 1", ()),
    ("sqlite", 1, "Which nations belong to {region}?",
     "SELECT r_name, GROUP_CONCAT(n_name) AS nations FROM {R} JOIN {N} "
     "ON n_regionkey = r_regionkey WHERE r_name = '{region}' GROUP BY r_name", None,
     "SELECT r_name, string_agg(n_name, ',') FROM region JOIN nation ON n_regionkey = r_regionkey "
     "WHERE r_name = '{region}' GROUP BY r_name", (1,)),
    ("sqlite", 2, "How many status {st} orders cost more than {x}?",
     'SELECT COUNT(*) AS n FROM {O} WHERE o_orderstatus = "{st}" AND o_totalprice > {x}', None,
     "SELECT COUNT(*) FROM orders WHERE o_orderstatus = '{st}' AND o_totalprice > {x}", ()),
    ("bare", 2, "How many {p} orders are there, and what is the largest?",
     "SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS top FROM {O} "
     "WHERE o_orderpriority = '{p}'", None,
     "SELECT any_value(o_orderpriority), COUNT(*), MAX(o_totalprice) FROM orders "
     "WHERE o_orderpriority = '{p}'", ()),
    ("bare", 1, "How many {seg} customers are there, and what is their lowest balance?",
     "SELECT c_mktsegment, COUNT(*) AS n, MIN(c_acctbal) AS low FROM {C} "
     "WHERE c_mktsegment = '{seg}'", None,
     "SELECT any_value(c_mktsegment), COUNT(*), MIN(c_acctbal) FROM customer "
     "WHERE c_mktsegment = '{seg}'", ()),
    ("wrong", 2, "How many orders of status {st} were placed in {y}?",
     "SELECT COUNT(*) AS n FROM {O} WHERE o_status = '{st}' AND year(o_orderdate) = {y}",
     "SELECT COUNT(*) AS n FROM {O} WHERE o_orderstatus = '{st}' AND year(o_orderdate) = {y}",
     "SELECT COUNT(*) FROM orders WHERE o_orderstatus = '{st}' AND year(o_orderdate) = {y}", ()),
    ("wrong", 4, "What is the average balance of {seg} customers per nation of {region}?",
     "SELECT n_name, AVG(c_balance) AS avg_bal FROM {C} JOIN {N} ON c_nationkey = n_nationkey "
     "JOIN {R} ON n_regionkey = r_regionkey WHERE r_name = '{region}' "
     "AND c_mktsegment = '{seg}' GROUP BY n_name",
     "SELECT n_name, AVG(c_acctbal) AS avg_bal FROM {C} JOIN {N} ON c_nationkey = n_nationkey "
     "JOIN {R} ON n_regionkey = r_regionkey WHERE r_name = '{region}' "
     "AND c_mktsegment = '{seg}' GROUP BY n_name",
     "SELECT n_name, AVG(c_acctbal) FROM customer JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey WHERE r_name = '{region}' "
     "AND c_mktsegment = '{seg}' GROUP BY n_name", ()),
]

LAYER_METRICS = {
    "prompts.assemble_ms": "ms",
    "dialect.rewrite_ms": "ms",
    "llm.ms_per_op": "ms",
    "analyze.ms": "ms",
    "exec.ms": "ms",
    "exec.jobs_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.input_mb_per_op": "MB",
    "repair.attempts_per_op": "count",
    "repair.success_ratio": "ratio",
    "llm.calls_per_op": "count",
    "llm.prompt_kb": "KB",
    "dialect.changed_ratio": "ratio",
}

PREAMBLE = (
    "Sure! Let me look at the schema first. The question asks about the tables "
    "described above, so the query below reads them directly.\n\n"
)
POSTSCRIPT = "\n\nThe result has one row per group. Let me know if you need anything else."


def question_stream(seed: int, n: int) -> list[tuple]:
    """``n`` (question, first SQL, repaired SQL, DuckDB SQL, unordered
    columns, class) items: blocks of 20 with each template's count, shuffled."""
    rng = random.Random(seed)
    out: list[tuple] = []
    while len(out) < n:
        block = [t for t in TEMPLATES for _ in range(t[1])]
        rng.shuffle(block)
        for t in block:
            params = {
                "y": rng.choice(YEARS), "p": rng.choice(PRIORITIES), "seg": rng.choice(SEGMENTS),
                "region": rng.choice(REGIONS), "st": rng.choice(STATUSES), "x": rng.choice(PRICES),
            }
            filled = [None if s is None else s.format_map(_Keep(params)) for s in t[2:6]]
            out.append((*filled, t[6], t[0]))
    return out[:n]


class _Keep(dict):
    """Leaves the table placeholders for later formatting."""

    def __missing__(self, key: str) -> str:
        return "{" + key + "}"


class AskLLM(FakeLLM):
    """Zero-latency model stub: FakeLLM's enrichment answers (with ENUM
    columns), and a chatty completion for each known question.

    The engine gets ``callback``; it looks ``complete`` up on each call,
    so a traced run can wrap ``complete`` on the instance."""

    def __init__(self) -> None:
        super().__init__()
        self.answers_by_question: dict[str, tuple[str, str | None]] = {}
        self.prompt_bytes: list[int] = []
        self.callback = lambda prompt: self.complete(prompt)

    def complete(self, prompt: str) -> str:
        self.prompt_bytes.append(len(prompt.encode()))
        if "[QUESTION]" in prompt:
            asked = prompt.rsplit("[QUESTION]\n", 1)[1]
            question, _, retry = asked.partition("\n\n[PREVIOUS ATTEMPT]")
            first, repaired = self.answers_by_question[question.strip()]
            sql = repaired if retry and repaired else first
            return f"{PREAMBLE}```sql\n{sql}\n```{POSTSCRIPT}"
        if "TEXT, NUMBER, ENUM" in prompt:
            samples = json.loads(prompt[prompt.index("{"):])
            return json.dumps({c: _column_type(c, v) for c, v in samples.items()})
        return self(prompt)


def _column_type(col: str, values: list[str]) -> str:
    if col in ENUM_COLUMNS:
        return "ENUM"
    try:
        [float(v) for v in values]
        return "NUMBER"
    except ValueError:
        return "TEXT"


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def _same(spark_rows: list[tuple], duck_rows: list[tuple], unordered: tuple) -> bool:
    def canon(rows):
        out = []
        for r in rows:
            r = [_norm(v) for v in r]
            for i in unordered:
                r[i] = ",".join(sorted(r[i].split(","))) if r[i] else r[i]
            out.append(r)
        return sorted(out, key=repr)

    a, b = canon(spark_rows), canon(duck_rows)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class Workload:
    cpu_ops = 60  # three blocks of 20: CPU is counted over the same questions in every run

    def __init__(self, seed: int, tables, run_dir, seconds: float):
        self.tables = tables
        # more questions than a loop can ask; the stream wraps around if not
        self.stream = question_stream(seed, int(40 * seconds) + 200)
        self.llm = AskLLM()
        self.llm_cb = self.llm.callback
        self._oracle_cache: dict[str, list[tuple]] = {}
        import duckdb

        con = duckdb.connect()
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables / (name + '.parquet')}')")
        for item in self.stream:
            if item[3] not in self._oracle_cache:
                self._oracle_cache[item[3]] = con.execute(item[3]).fetchall()
        con.close()
        self.tracer = None
        self.changed: list[bool] = []

    def setup(self, spark, tracer) -> tuple[int, int]:
        """Ingest the tables with enrichment, then ask each question shape
        WARM_ROUNDS times.  A traced run traces the ingest and re-ingests the
        same tables (a cache hit), so the ingest layers are measured here too."""
        self.spark = self.session = spark
        paths = [str(self.tables / f"{name}.parquet") for name in TABLES]
        if tracer is None:
            self.results, _, _ = ingest(spark, paths, self.llm_cb, persist=True)
        else:
            import ingest as ingest_workload

            rows = sum(pq.read_metadata(p).num_rows for p in paths)
            size = sum(os.path.getsize(p) for p in paths)
            ingest_workload.trace_layers(tracer, self.llm)
            for kind in ("miss", "hit"):
                self.results, _ = ingest_workload.traced_ingest(
                    tracer, f"setup-{kind}", kind, spark, paths, self.llm_cb, rows, size)
            tracer.unwrap()
        views = {k: f"`{r['hash']}`" for k, r in zip("OCNR", self.results)}
        for item in self.stream:
            first, repaired = (s.format(**views) if s else None for s in item[1:3])
            self.llm.answers_by_question[item[0]] = (first, repaired)
        # each template shape WARM_ROUNDS times, untimed; failures still count
        seen: dict[str, int] = {}
        failed, warm = 0, 0
        for i, item in enumerate(self.stream):
            shape = item[1][:60]
            if seen.get(shape, 0) == WARM_ROUNDS:
                continue
            seen[shape] = seen.get(shape, 0) + 1
            warm += 1
            try:
                ok = self._ask(i)[1]
            except Exception:
                import traceback

                traceback.print_exc()
                ok = False
            failed += not ok
        return warm, failed

    def _ask(self, i: int):
        question, _, _, duck_sql, unordered, cls = self.stream[i % len(self.stream)]
        t0 = time.perf_counter()
        df = t2s.run_with_repair(self.session, question, self.results, self.llm_cb)
        if self.tracer is None:
            rows = df.collect()
        else:
            with self.tracer.span("exec"):
                rows = df.collect()
        lat = time.perf_counter() - t0
        return lat, _same([tuple(r) for r in rows], self._oracle_cache[duck_sql], unordered), cls

    def run_op(self, i: int):
        if self.tracer is None:
            return self._ask(i)
        with self.tracer.op(f"op{i}") as rec:
            rec["ok"] = False
            lat, rec["ok"], cls = self._ask(i)
        return lat, rec["ok"], cls

    def may_stop(self, i: int) -> bool:
        return True

    def finish(self) -> int:
        return 0

    # -- tracing --------------------------------------------------------------
    def install_tracing(self, tracer) -> None:
        self.tracer = tracer
        self.llm.prompt_bytes.clear()
        tracer.wrap(t2s, "assemble_messages", "prompts")
        tracer.wrap(t2s, "rewrite_bare_aggregate", "dialect")
        tracer.wrap(t2s, "rewrite_sqlite_to_spark", "dialect",
                    observe=lambda sql, out: self.changed.append(out != sql))
        tracer.wrap(self.llm, "complete", "llm")
        self.session = _AnalyzingSession(self.spark, tracer)

    def layer_metrics(self, tracer, groups: dict, events: dict) -> dict:
        import ingest as ingest_workload

        setup = ingest_workload.layer_summary(tracer, groups, events)
        ops = [s for s in tracer.spans if s["name"] == "op" and s["op"].startswith("op")]
        n = len(ops)
        ms: dict[str, float] = {}
        count: dict[str, int] = {}
        analyses_by_op: dict[str, int] = {}
        for s in tracer.spans:
            if not s["op"].startswith("op"):
                continue
            ms[s["name"]] = ms.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1e3
            count[s["name"]] = count.get(s["name"], 0) + 1
            if s["name"] == "analyze":
                analyses_by_op[s["op"]] = analyses_by_op.get(s["op"], 0) + 1
        exec_groups = [g for g in groups if g.endswith("/exec")]
        repaired = [k for k, v in analyses_by_op.items() if v > 1]
        failed_ops = {s["op"] for s in ops if not s["ok"]}
        return {
            **setup,
            "prompts.assemble_ms": ms.get("prompts", 0.0) / n,
            "dialect.rewrite_ms": ms.get("dialect", 0.0) / n,
            "llm.ms_per_op": ms.get("llm", 0.0) / n,
            "analyze.ms": ms.get("analyze", 0.0) / n,
            "exec.ms": ms.get("exec", 0.0) / n,
            "exec.jobs_per_op": sum(groups[g]["jobs"] for g in exec_groups) / n,
            "exec.tasks_per_op": sum(groups[g]["tasks"] for g in exec_groups) / n,
            "exec.input_mb_per_op": sum(events.get(g, {}).get("input_bytes", 0.0) for g in exec_groups) / 1e6 / n,
            "repair.attempts_per_op": sum(v - 1 for v in analyses_by_op.values()) / n,
            "repair.success_ratio": (sum(1 for k in repaired if k not in failed_ops) / len(repaired)) if repaired else 0.0,
            "llm.calls_per_op": count.get("llm", 0) / n,
            "llm.prompt_kb": (sum(self.llm.prompt_bytes) / len(self.llm.prompt_bytes) / 1e3) if self.llm.prompt_bytes else 0.0,
            "dialect.changed_ratio": (sum(self.changed) / len(self.changed)) if self.changed else 0.0,
        }


class _AnalyzingSession:
    """What ``run_with_repair`` sees of the session in a traced run:
    ``sql`` runs under the ``analyze`` span, with the schema forced."""

    def __init__(self, spark, tracer) -> None:
        self._spark, self._tracer = spark, tracer

    def sql(self, query: str):
        with self._tracer.span("analyze"):
            df = self._spark.sql(query)
            df.schema
        return df
