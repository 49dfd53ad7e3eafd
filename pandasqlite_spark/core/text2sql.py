"""Natural language → Spark SQL → DataFrame.

Re-expression of the reference's ``text2sql`` (reference
``pandasqlite/pandasqlite.py:183-250``): assemble the five-section
prompt plus the few-shot curriculum, make one LLM call, extract the
fenced SQL block, rewrite the ``table`` placeholder to the real
(hash-named) table.

Two reference bugs fixed (SURVEY.md §3.2):

- ``:247`` rewrites with ``result.replace("table", ...)`` using the
  loop-leaked *last* ingestion's hash and corrupts any identifier that
  merely contains the substring ``table``.  We rewrite token-aware and
  only when the batch has exactly one table (with several tables the
  prompt's curriculum already names each table by hash).
- the extracted SQL additionally passes through the dialect rewriter to
  absorb residual SQLite-isms an LLM may emit (SURVEY.md §4.2-1).
"""

from __future__ import annotations

import logging
import re
import threading
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession

from pandasqlite_spark.core.dialect import (
    rewrite_bare_aggregate,
    rewrite_sqlite_to_spark,
    rewrite_table_placeholder,
)
from pandasqlite_spark.core.llm import LLMCallback, sanity_check
from pandasqlite_spark.core.prompts import PromptTemplate, assemble_messages, render_plain

_FENCE_RE = re.compile(r"```sql\s*(.*?)\s*```", re.DOTALL | re.IGNORECASE)


def extract_sql(completion: str) -> str:
    """Pull the SQL out of the first ```sql fenced block (reference
    ``:246`` splits on the fence markers); fall back to the raw text."""
    m = _FENCE_RE.search(completion)
    return (m.group(1) if m else completion).strip().rstrip(";")


def text2sql(
    question: str,
    ingestions: list[dict],
    llm_callback: LLMCallback,
    *,
    template: PromptTemplate = render_plain,
    documentation: str | None = None,
) -> str:
    """Generate a Spark SQL statement answering ``question`` over the
    ingested tables. Execute with :func:`run` / ``spark.sql``."""
    sanity_check(llm_callback)
    messages = assemble_messages(question, ingestions, documentation)
    completion = llm_callback(template(messages))
    sql = extract_sql(completion)
    if len(ingestions) == 1:
        sql = rewrite_table_placeholder(sql, ingestions[0]["hash"])
    return rewrite_sqlite_to_spark(sql, identifiers=known_identifiers(ingestions))


def known_identifiers(ingestions: list[dict]) -> set[str]:
    """Table hashes + column names the dialect rewriter should treat as
    identifiers (→ backticks), not string literals, when the LLM emits
    SQLite-style double-quoted names.  Columns come from ``value_format``
    (always populated by ingest) with a DDL-parse fallback."""
    idents: set[str] = set()
    for ing in ingestions:
        if ing.get("hash"):
            idents.add(ing["hash"])
        for col in (ing.get("value_format") or {}):
            idents.add(col)
        # DDL renders identifiers double-quoted: CREATE TABLE "h" ("col" TYPE...)
        for m in re.finditer(r'"([^"]+)"', ing.get("ddl") or ""):
            idents.add(m.group(1))
    return idents


def run(
    spark: SparkSession,
    question: str,
    ingestions: list[dict],
    llm_callback: LLMCallback,
    **kwargs,
) -> DataFrame:
    """End-to-end: question → SQL → ``spark.sql`` DataFrame (the
    reference's ``pd.read_sql(sql, db)`` step, ``README.md:49``)."""
    return spark.sql(text2sql(question, ingestions, llm_callback, **kwargs))


class _RepairAttempts(logging.Filter):
    """PySpark logs every analysis error it converts at ERROR, with the
    full plan, on ``SQLQueryContextLogger``.  Inside a
    :func:`run_with_repair` attempt the error is either repaired or
    raised, so this filter drops those records, but only on the thread
    that is inside the attempt: other threads and the logger's own
    settings are untouched."""

    def __init__(self) -> None:
        super().__init__()
        self._local = threading.local()

    def filter(self, record: logging.LogRecord) -> bool:
        return not getattr(self._local, "inside", False)

    @contextmanager
    def active(self):
        self._local.inside = True
        try:
            yield
        finally:
            self._local.inside = False


_REPAIR_ATTEMPTS = _RepairAttempts()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(_REPAIR_ATTEMPTS)


def _analyzed(spark: SparkSession, sql: str) -> DataFrame:
    """``spark.sql(sql)``, analysed now rather than at its first action."""
    with _REPAIR_ATTEMPTS.active():
        df = spark.sql(sql)
        df.schema
    return df


def run_with_repair(
    spark: SparkSession,
    question: str,
    ingestions: list[dict],
    llm_callback: LLMCallback,
    *,
    max_repairs: int = 2,
    **kwargs,
) -> DataFrame:
    """Like :func:`run`, with an analysis-error repair loop the
    reference lacks: when Catalyst rejects the generated SQL, the
    question is re-asked with the failing SQL and the analyzer's error
    appended, up to ``max_repairs`` times.  (Standard Text-to-SQL
    practice; the analyzer error names missing columns/tables, which
    is exactly the feedback an LLM can act on.)  Raises the last
    analysis error if every attempt fails.  Only an
    ``AnalysisException`` (``ParseException`` included) is repaired;
    any other failure, such as a JVM or Py4J error, is raised at once.
    Analysis errors inside an attempt are not also logged by PySpark
    (see :class:`_RepairAttempts`)."""
    q = question
    last_exc: Exception | None = None
    for _ in range(max_repairs + 1):
        sql = text2sql(q, ingestions, llm_callback, **kwargs)
        try:
            return _analyzed(spark, sql)
        except AnalysisException as exc:
            last_exc = exc
            # deterministic repair first: SQLite permits bare
            # non-grouped expressions beside aggregates (arbitrary-row
            # pick, SURVEY §2.B-15); Spark's exact analog is
            # any_value().  Only attempted on the precise analyzer
            # error, and only if the rewrite changed something.
            # MISSING_GROUP_BY: bare items beside an aggregate, no
            # GROUP BY; MISSING_AGGREGATION: bare non-grouped items
            # with a GROUP BY present — SQLite executes both with an
            # arbitrary-row pick, so both repair to any_value()
            if "MISSING_GROUP_BY" in str(exc) or "MISSING_AGGREGATION" in str(exc):
                fixed = rewrite_bare_aggregate(sql)
                if fixed != sql:
                    try:
                        return _analyzed(spark, fixed)
                    except AnalysisException as exc2:
                        last_exc = exc2
            q = (
                f"{question}\n\n[PREVIOUS ATTEMPT]\n{sql}\n\n"
                f"[ERROR]\n{exc}\n\nFix the SQL statement."
            )
    raise last_exc
