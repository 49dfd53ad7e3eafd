"""Unit/property tests for the pipeline pieces with real logic
(SURVEY.md §5-4): sanitization, hashing, fence parsing, placeholder
rewrite, dialect rules, prompts, cache round-trip."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pandasqlite_spark.core.dialect import (
    rewrite_sqlite_to_spark,
    rewrite_table_placeholder,
)
from pandasqlite_spark.core.hashing import combine_hashes, hash_pandas
from pandasqlite_spark.core.llm import FakeLLM, LLMNotSane, sanity_check
from pandasqlite_spark.core.sanitize import sanitize_column_name
from pandasqlite_spark.core.text2sql import extract_sql


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_sanitize_idempotent(name):
    once = sanitize_column_name(name)
    assert sanitize_column_name(once) == once


def test_sanitize_reference_semantics():
    # reference pandasqlite.py:94 — runs of non-alphanumerics → '_'
    assert sanitize_column_name("Unit cost") == "Unit_cost"
    assert sanitize_column_name("a  b!!c") == "a_b_c"


def test_hash_pandas_stable_and_content_sensitive():
    a = pd.DataFrame({"x": [1, 2, 3]})
    assert hash_pandas(a) == hash_pandas(a.copy())
    assert hash_pandas(a) != hash_pandas(pd.DataFrame({"x": [1, 2, 4]}))
    assert combine_hashes(["a", "b"]) != combine_hashes(["b", "a"])


def test_hash_spark_order_insensitive(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string")
    from pandasqlite_spark.core.hashing import hash_spark

    h1 = hash_spark(df)
    h2 = hash_spark(df.orderBy(df.id.desc()))
    h3 = hash_spark(df.filter("id < 3"))
    assert h1 == h2 and h1 != h3


def test_extract_sql_fence_and_fallback():
    assert extract_sql("blah\n```sql\nSELECT 1\n```\nmore") == "SELECT 1"
    assert extract_sql("```SQL\nSELECT 2;\n```") == "SELECT 2"
    assert extract_sql("SELECT 3") == "SELECT 3"


def test_rewrite_table_placeholder_token_aware():
    # the reference's naive replace corrupts identifiers (pandasqlite.py:247)
    out = rewrite_table_placeholder("SELECT my_table.x FROM table", "h1")
    assert out == "SELECT my_table.x FROM `h1`"
    out = rewrite_table_placeholder("SELECT 'table' FROM table, TABLE", "h")
    assert out == "SELECT 'table' FROM `h`, `h`"


@pytest.mark.parametrize(
    "src,expected",
    [
        ("SELECT strftime('%Y', d) FROM t", "SELECT CAST(year(d) AS STRING) FROM t"),
        ("SELECT MIN(a, b) FROM t", "SELECT least(a, b) FROM t"),
        ("SELECT MIN(a) FROM t", "SELECT MIN(a) FROM t"),
        ("SELECT MAX(a, MIN(b, c)) FROM t", "SELECT greatest(a, least(b, c)) FROM t"),
        (
            "SELECT GROUP_CONCAT(x, ';') FROM t",
            "SELECT array_join(collect_list(x), ';') FROM t",
        ),
        ("SELECT random()", "SELECT rand()"),
        (
            "SELECT julianday(a) - julianday(b) FROM t",
            "SELECT (datediff(to_date(a), DATE'1970-01-01') + 2440587.5)"
            " - (datediff(to_date(b), DATE'1970-01-01') + 2440587.5) FROM t",
        ),
        (
            "SELECT julianday(date(x)) FROM t",
            "SELECT (datediff(to_date(date(x)), DATE'1970-01-01') + 2440587.5) FROM t",
        ),
        (
            "SELECT 'julianday(a)' FROM t",
            "SELECT 'julianday(a)' FROM t",
        ),
        ("SELECT * FROM t WHERE a LIKE 'x%'", "SELECT * FROM t WHERE a ILIKE 'x%'"),
        ('SELECT * FROM t WHERE s = "1"', "SELECT * FROM t WHERE s = '1'"),
        ("SELECT iif(a > 1, 'y', 'n') FROM t", "SELECT if(a > 1, 'y', 'n') FROM t"),
        ("SELECT CAST(a AS TEXT) FROM t", "SELECT CAST(a AS STRING) FROM t"),
        ("SELECT CAST(a AS REAL) FROM t", "SELECT CAST(a AS DOUBLE) FROM t"),
        ("SELECT date('now')", "SELECT current_date()"),
        ("SELECT datetime('NOW')", "SELECT current_timestamp()"),
        ("SELECT date('2024-01-01')", "SELECT date('2024-01-01')"),
        ("SELECT date(d) FROM t", "SELECT date(d) FROM t"),
        ("SELECT * FROM t LIMIT 5, 10", "SELECT * FROM t LIMIT 10 OFFSET 5"),
        ("SELECT * FROM t LIMIT 10 OFFSET 5", "SELECT * FROM t LIMIT 10 OFFSET 5"),
        ("SELECT total(a) FROM t", "SELECT coalesce(sum(a), 0.0d) FROM t"),
        ("SELECT 'iif(a, b, c)' FROM t", "SELECT 'iif(a, b, c)' FROM t"),
        # 'now' forms that would otherwise become silent NULLs
        (
            "SELECT julianday('now')",
            "SELECT (unix_micros(current_timestamp()) / 86400000000.0d"
            " + 2440587.5d)",
        ),
        ("SELECT date('now', '-7 day')", "SELECT date_add(current_date(), -7)"),
        ("SELECT date('now', '+2 months')", "SELECT add_months(current_date(), 2)"),
        ("SELECT date('now', '-1 year')", "SELECT add_months(current_date(), -12)"),
        (
            "SELECT datetime('now', '-3 day')",
            "SELECT timestampadd(DAY, -3, current_timestamp())",
        ),
        # multi-word modifiers fail loudly rather than silently shifting
        (
            "SELECT date('now', 'start of month')",
            "SELECT date('now', 'start of month')",
        ),
        # only the 'now' anchor rewrites — column anchors stay
        ("SELECT date(d, '-7 day') FROM t", "SELECT date(d, '-7 day') FROM t"),
        # GLOB is case-SENSITIVE → plain LIKE (never ILIKE), *→%, ?→_
        (
            "SELECT * FROM t WHERE name GLOB 'Foo*'",
            "SELECT * FROM t WHERE name LIKE 'Foo%'",
        ),
        (
            "SELECT * FROM t WHERE name GLOB 'a?c'",
            "SELECT * FROM t WHERE name LIKE 'a_c'",
        ),
        # a GLOB pattern containing LIKE metachars becomes an anchored
        # regex — %/_ stay LITERAL (GLOB semantics), * still wildcards
        # (round-4 ADVICE: the old fail-loud GLOB passthrough was a
        # capability regression vs SQLite)
        (
            "SELECT * FROM t WHERE name GLOB 'has%inside*'",
            "SELECT * FROM t WHERE name RLIKE '^has%inside.*$'",
        ),
        # glob character classes map to regex classes
        (
            "SELECT * FROM t WHERE name GLOB '[Ff]oo*'",
            "SELECT * FROM t WHERE name RLIKE '^[Ff]oo.*$'",
        ),
        (
            "SELECT * FROM t WHERE a LIKE 'x%' AND b GLOB '*z'",
            "SELECT * FROM t WHERE a ILIKE 'x%' AND b LIKE '%z'",
        ),
        # SQLite also accepts a double-quoted GLOB pattern
        (
            'SELECT * FROM t WHERE name GLOB "Foo*"',
            "SELECT * FROM t WHERE name LIKE 'Foo%'",
        ),
        ("SELECT strftime('%s', ts) FROM t", "SELECT unix_timestamp(ts) FROM t"),
        (
            "SELECT unixepoch(ts), unixepoch() FROM t",
            "SELECT unix_timestamp(ts), unix_timestamp() FROM t",
        ),
        (
            "SELECT printf('%s-%d', a, b) FROM t",
            "SELECT format_string('%s-%d', a, b) FROM t",
        ),
        # SQLite %w: 0-6 Sunday=0; Spark dayofweek(): 1-7 Sunday=1
        (
            "SELECT strftime('%w', d) FROM t",
            "SELECT CAST(dayofweek(d) - 1 AS STRING) FROM t",
        ),
        # NUMERIC affinity preserves values; Spark NUMERIC would truncate
        ("SELECT CAST(v AS NUMERIC) FROM t", "SELECT CAST(v AS DOUBLE) FROM t"),
        ("SELECT unicode('A')", "SELECT ascii('A')"),
        (
            "SELECT props ->> '$.k', props -> '$.k' FROM t",
            "SELECT get_json_object(props, '$.k'),"
            " get_json_object(props, '$.k') FROM t",
        ),
        # JSON arrows inside string literals must never rewrite
        ("SELECT 'a ->> b' FROM t", "SELECT 'a ->> b' FROM t"),
    ],
)
def test_dialect_rules(src, expected):
    assert rewrite_sqlite_to_spark(src) == expected


# --- a rewritten statement answers as SQLite does: each case runs on the
# stdlib sqlite3 and, rewritten, on Spark, over the same rows -----------------

_SQLITE_ROWS = [
    ("ab", "north", 1, "2023-01-05"),
    ("cd", "south", None, "2024-07-30"),
    ("ef", "northeast", 3, "2024-12-31"),
]


@pytest.mark.parametrize(
    "select, sep",
    [
        ("GROUP_CONCAT(upper(x))", ","),
        ("GROUP_CONCAT(substr(n, 1, 3), ';')", ";"),
        ('GROUP_CONCAT(x, ", ")', ", "),
        ("total(coalesce(a, 0))", None),
        ('strftime("%Y", d)', None),
        ('julianday("now")', None),
    ],
)
def test_rewrite_answers_as_sqlite_does(spark, select, sep):
    """``sep``: the GROUP_CONCAT separator; its output is compared as a
    sorted list, since neither engine orders the group."""
    import sqlite3

    sql = f"SELECT {select} AS v FROM answers_t"
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE answers_t (x TEXT, n TEXT, a INTEGER, d TEXT)")
    con.executemany("INSERT INTO answers_t VALUES (?, ?, ?, ?)", _SQLITE_ROWS)
    want = sorted(r[0] for r in con.execute(sql))
    con.close()
    rows = spark.createDataFrame(_SQLITE_ROWS, "x string, n string, a int, d string")
    rows.createOrReplaceTempView("answers_t")
    rewritten = rewrite_sqlite_to_spark(sql, {"x", "n", "a", "d", "answers_t"})
    got = sorted(r[0] for r in spark.sql(rewritten).collect())
    if sep is not None:
        want, got = ([sorted(v.split(sep)) for v in vs] for vs in (want, got))
    if "now" in select:
        # 'now' is read once by each engine, moments apart: one minute's slack
        assert [float(v) for v in got] == pytest.approx(want, abs=1 / 1440), rewritten
    else:
        assert got == want, rewritten


def test_dialect_keeps_known_identifiers_quoted():
    out = rewrite_sqlite_to_spark('SELECT "Unit_cost" FROM t', identifiers={"unit_cost"})
    assert out == "SELECT `Unit_cost` FROM t"


def test_glob_double_quoted_column_stays_identifier():
    # SQLite resolves a double-quoted GLOB operand as an identifier
    # FIRST: ``x GLOB "col"`` compares against the COLUMN col, so it
    # must not be promoted to a pattern literal (round-3 ADVICE).
    # Round-4 ADVICE: rather than leaving an unexecutable GLOB, the
    # column case becomes an anchored RLIKE whose regex is built from
    # the column value in SQL (glob → regex via regexp_replace).
    out = rewrite_sqlite_to_spark(
        'SELECT * FROM t WHERE a GLOB "pat_col"', identifiers={"a", "pat_col"}
    )
    assert "GLOB" not in out and "RLIKE" in out and "`pat_col`" in out
    # no schema knowledge → same dynamic form; the double-quoted
    # operand falls back to a string literal (SQLite's legacy
    # resolution when no such column exists), so the query executes
    # either way instead of failing to parse
    out2 = rewrite_sqlite_to_spark('SELECT * FROM t WHERE a GLOB "plain"')
    assert "GLOB" not in out2 and "RLIKE" in out2 and "'plain'" in out2
    # metacharacters always mean a pattern, even if schema is unknown
    out3 = rewrite_sqlite_to_spark('SELECT * FROM t WHERE a GLOB "pre*"')
    assert out3 == "SELECT * FROM t WHERE a LIKE 'pre%'"
    # known schema + not a column + no metachars → SQLite's legacy
    # string-literal fallback applies, promote to an exact-match pattern
    out4 = rewrite_sqlite_to_spark(
        'SELECT * FROM t WHERE a GLOB "xyz"', identifiers={"a", "b"}
    )
    assert out4 == "SELECT * FROM t WHERE a LIKE 'xyz'"


@pytest.mark.parametrize(
    "src,expected",
    [
        # rewrites must never fire inside string literals (round-1 ADVICE:
        # the LIKE regex corrupted "... = 'I LIKE it'" into 'I ILIKE it')
        (
            "SELECT * FROM t WHERE note = 'I LIKE it'",
            "SELECT * FROM t WHERE note = 'I LIKE it'",
        ),
        (
            "SELECT 'min(a, b)' AS lit, MIN(a, b) FROM t",
            "SELECT 'min(a, b)' AS lit, least(a, b) FROM t",
        ),
        ("SELECT 'random()' FROM t", "SELECT 'random()' FROM t"),
        (
            "SELECT * FROM t WHERE a LIKE 'x%' AND b = 'y LIKE z'",
            "SELECT * FROM t WHERE a ILIKE 'x%' AND b = 'y LIKE z'",
        ),
        # backtick identifier / close-paren / NOT on the left of LIKE
        (
            "SELECT * FROM t WHERE `my col` LIKE 'x%'",
            "SELECT * FROM t WHERE `my col` ILIKE 'x%'",
        ),
        (
            "SELECT * FROM t WHERE substr(a, 1, 2) LIKE 'x%'",
            "SELECT * FROM t WHERE substr(a, 1, 2) ILIKE 'x%'",
        ),
        (
            "SELECT * FROM t WHERE a NOT LIKE 'x%'",
            "SELECT * FROM t WHERE a NOT ILIKE 'x%'",
        ),
        # nested call in strftime's 2nd arg (round-1 ADVICE: the [^)]+?
        # regex emitted malformed SQL)
        (
            "SELECT strftime('%Y', date(x)) FROM t",
            "SELECT CAST(year(date(x)) AS STRING) FROM t",
        ),
        (
            "SELECT strftime('%Y-%m', coalesce(d, e)) FROM t",
            "SELECT date_format(coalesce(d, e), 'yyyy-MM') FROM t",
        ),
    ],
)
def test_dialect_rules_quote_safety(src, expected):
    assert rewrite_sqlite_to_spark(src) == expected


def test_table_placeholder_not_rewritten_inside_literals():
    out = rewrite_table_placeholder("SELECT 'a table here' FROM table", "h")
    assert out == "SELECT 'a table here' FROM `h`"


def test_known_identifiers_collects_hash_columns_and_ddl():
    from pandasqlite_spark.core.text2sql import known_identifiers

    ings = [
        {
            "hash": "abc123",
            "value_format": {"Unit_cost": ["1"], "Region": ["x"]},
            "ddl": 'CREATE TABLE "abc123" (\n\t"Unit_cost" FLOAT,\n\t"Region" TEXT\n)',
        }
    ]
    idents = known_identifiers(ings)
    assert {"abc123", "Unit_cost", "Region"} <= idents
    out = rewrite_sqlite_to_spark('SELECT "Unit_cost" FROM "abc123"', identifiers=idents)
    assert out == "SELECT `Unit_cost` FROM `abc123`"


def test_curriculum_rewritten_per_ingestion_in_multitable_batch(spark):
    """Each few-shot curriculum entry must name ITS OWN ingestion's hash
    (VERDICT r01 item 5): the reference leaks the last table's hash into
    every entry (pandasqlite.py:247); a multi-table prompt whose
    few-shots all say `table` (or the wrong hash) teaches the LLM wrong
    table names."""
    import re as _re

    from pandasqlite_spark.core.ingest import ingest
    from pandasqlite_spark.core.prompts import assemble_messages

    a = pd.DataFrame({"x": [1, 2, 3]})
    b = pd.DataFrame({"y": ["p", "q", "r"]})
    results, _, _ = ingest(spark, [a, b], FakeLLM(), persist=False)
    h1, h2 = results[0]["hash"], results[1]["hash"]
    assert h1 != h2

    few_shots = [c for r, c in assemble_messages("q?", results) if r == "assistant"]
    assert any(f"`{h1}`" in s for s in few_shots)
    assert any(f"`{h2}`" in s for s in few_shots)
    # no few-shot retains the bare `table` placeholder
    assert not any(_re.search(r"\bFROM\s+table\b", s, _re.I) for s in few_shots)


def test_sanity_check_honors_callback():
    # reference bug (pandasqlite.py:261): passed callback was ignored
    sanity_check(FakeLLM())
    with pytest.raises(LLMNotSane):
        sanity_check(lambda p: "NO")


def test_ingest_cache_roundtrip(spark, tmp_path, monkeypatch):
    from pandasqlite_spark.core import cache
    from pandasqlite_spark.core.ingest import ingest

    monkeypatch.setenv(cache.ENV_VAR, str(tmp_path))
    pdf = pd.DataFrame({"a b": [1, 2], "c": ["x", "y"]})
    res1, _, h1 = ingest(spark, [pdf], FakeLLM(), persist=True)
    assert res1[0]["column_types"] is not None
    assert "a_b" in res1[0]["ddl"]
    # second ingest of identical content: cache hit, same hash
    res2, _, h2 = ingest(spark, [pdf.copy()], FakeLLM(), persist=True)
    assert h1 == h2 and res2[0]["ddl"] == res1[0]["ddl"]
    # reopen by hash re-registers the stored table
    res3, _, _ = ingest(spark, h1)
    assert spark.table(f"`{res3[0]['hash']}`").count() == 2


# --- a question over a one-partition ingested table is one Spark job:
# the view is registered as a single partition, so its aggregate and
# ORDER BY plan no Exchange, and the filter still reaches the scan ------

_ASK_SQL = "SELECT k, COUNT(*) AS n, SUM(v) AS s FROM {t} WHERE v > 10 GROUP BY k ORDER BY k"


def _ask_frame() -> pd.DataFrame:
    return pd.DataFrame({"k": [f"k{i % 7}" for i in range(300)], "v": list(range(300))})


def _plain_answer(spark, path: str) -> list:
    spark.read.parquet(path).createOrReplaceTempView("plain_ask_t")
    return spark.sql(_ASK_SQL.format(t="plain_ask_t")).collect()


def _ask_counted(spark, results: list[dict]) -> tuple[list, int, str]:
    """(rows, Spark jobs, executed plan) of one GROUP BY ... ORDER BY
    question through ``run_with_repair``, its jobs counted by job group."""
    import uuid

    from pandasqlite_spark.core.text2sql import run_with_repair

    question = "How many rows above 10 has each k, and what is their sum?"
    sql = _ASK_SQL.format(t=f"`{results[0]['hash']}`")
    sc = spark.sparkContext
    group = f"ask-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = run_with_repair(spark, question, results, FakeLLM({question: sql}))
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, jobs, df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "source, persist, reopen",
    [("parquet", True, False), ("pandas", True, False), ("parquet", False, False), ("parquet", True, True)],
    ids=["parquet-persist", "pandas-persist", "parquet-no-persist", "reopen-by-hash"],
)
def test_ask_over_one_partition_table_runs_as_one_job(spark, tmp_path, monkeypatch, source, persist, reopen):
    from pandasqlite_spark.core import cache
    from pandasqlite_spark.core.ingest import ingest

    monkeypatch.setenv(cache.ENV_VAR, str(tmp_path / "cache"))
    pdf = _ask_frame()
    path = str(tmp_path / "t.parquet")
    pdf.to_parquet(path, index=False)
    results, _, batch_hash = ingest(spark, [pdf if source == "pandas" else path], FakeLLM(), persist=persist)
    if reopen:
        spark.catalog.dropTempView(results[0]["hash"])
        results, _, _ = ingest(spark, batch_hash)

    rows, jobs, plan = _ask_counted(spark, results)
    assert jobs == 1, plan
    assert "Exchange" not in plan
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,10)]" in plan, plan
    assert rows == _plain_answer(spark, path)


def test_ask_over_four_file_table_keeps_its_exchange(spark, tmp_path, monkeypatch):
    """A table that scans as several partitions is registered as it is."""
    from pandasqlite_spark.core import cache
    from pandasqlite_spark.core.ingest import ingest

    monkeypatch.setenv(cache.ENV_VAR, str(tmp_path / "cache"))
    path = str(tmp_path / "four")
    spark.createDataFrame(_ask_frame()).repartition(4).write.parquet(path)
    results, _, _ = ingest(spark, [path], FakeLLM(), persist=True)

    rows, _, plan = _ask_counted(spark, results)
    assert "Exchange" in plan
    assert rows == _plain_answer(spark, path)


@pytest.mark.parametrize("cached", [False, True], ids=["shuffled", "cached-shuffled"])
def test_register_view_of_a_shuffled_frame_runs_no_job(spark, cached):
    """A frame whose plan has an exchange, or reads a cached relation that
    has one, is registered as it is, without running that exchange to
    count its partitions."""
    import uuid

    from pyspark.sql import functions as F

    from pandasqlite_spark.core import cache

    df = spark.range(100_000).groupBy((F.col("id") % 5).alias("k")).count()
    if cached:
        df = df.cache()
    sc = spark.sparkContext
    group = f"register-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        registered = cache.register_view(df, "shuffled_view_t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert registered is df
    assert spark.table("shuffled_view_t").count() == 5
    if cached:
        df.unpersist()


# --- property tests: the dialect rewriter must be safe to re-apply and
# must not disturb SQL that is already Spark-clean ---------------------------

_SPARK_CLEAN = [
    "SELECT a, sum(b) AS s FROM t GROUP BY a HAVING sum(b) > 3 ORDER BY a",
    "SELECT coalesce(x, 0), least(a, b), greatest(a, b) FROM t",
    "SELECT year(to_date(d, 'dd/MM/yyyy')) FROM t WHERE c IN (1, 2, 3)",
    "WITH c AS (SELECT 1 AS one) SELECT one FROM c",
    "SELECT rand(), array_join(collect_list(x), ',') FROM t GROUP BY k",
]


@pytest.mark.parametrize("sql", _SPARK_CLEAN)
def test_rewriter_noop_on_spark_clean_sql(sql):
    from pandasqlite_spark.core.dialect import rewrite_sqlite_to_spark

    assert rewrite_sqlite_to_spark(sql) == sql


@given(
    st.lists(
        st.sampled_from(
            [
                "SELECT strftime('%Y', d) FROM t",
                "SELECT min(a, b) FROM t",
                "SELECT max(a, 3) FROM t",
                "SELECT GROUP_CONCAT(x, ';') FROM t GROUP BY k",
                "SELECT random() AS r",
                "SELECT julianday(d) FROM t",
                'SELECT * FROM t WHERE s = "lit"',
                "SELECT name FROM t WHERE name LIKE '%a%'",
            ]
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=50, deadline=None)
def test_rewriter_idempotent(parts):
    """rewrite(rewrite(x)) == rewrite(x) for any combination of the
    SQLite-isms the rewriter targets — re-application must never
    double-mangle."""
    from pandasqlite_spark.core.dialect import rewrite_sqlite_to_spark

    sql = " UNION ALL ".join(parts)
    once = rewrite_sqlite_to_spark(sql)
    assert rewrite_sqlite_to_spark(once) == once


def test_watsonx_backend_raises_clear_importerror_when_lib_absent():
    from pandasqlite_spark.core.llm import watsonx_backend

    try:
        import ibm_watsonx_ai  # noqa: F401

        pytest.skip("ibm_watsonx_ai unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="llm_callback"):
        watsonx_backend()


def test_watsonx_http_backend_end_to_end(spark):
    """The real-HTTP path (round-5 verdict #4): an in-process stub
    speaking the watsonx request/response shape serves ingest +
    text2sql END TO END through actual HTTP — executing the auth
    (IAM apikey→token exchange + 401 re-exchange), retry (500 then
    success), and parse (results[0].generated_text, \\n\\n truncation)
    plumbing that the offline suite otherwise never runs."""
    import http.server
    import json as _json
    import threading

    import pandas as pd

    from pandasqlite_spark.core.ingest import ingest
    from pandasqlite_spark.core.llm import (
        FakeLLM,
        watsonx_backend,
        watsonx_http_backend,
    )
    from pandasqlite_spark.core.text2sql import run_with_repair

    answers = FakeLLM({"how many rows": "SELECT COUNT(*) AS n FROM table"})
    state = {"gen": 0, "tokens": 0, "did500": False, "did401": False}
    seen = {"bodies": [], "auths": []}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def _send(self, code, obj):
            body = _json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            raw = self.rfile.read(int(self.headers["Content-Length"]))
            if self.path.startswith("/identity/token"):
                state["tokens"] += 1
                assert b"grant_type=urn" in raw and b"apikey=secret-key" in raw
                self._send(200, {"access_token": f"tok-{state['tokens']}"})
                return
            state["gen"] += 1
            seen["auths"].append(self.headers.get("Authorization"))
            if not state["did500"]:
                state["did500"] = True
                self._send(500, {"error": "transient"})
                return
            if state["gen"] >= 3 and not state["did401"]:
                state["did401"] = True  # expired token: force re-exchange
                self._send(401, {"error": "expired"})
                return
            body = _json.loads(raw)
            prompt = body["input"]
            assert prompt.startswith("input:")
            seen["bodies"].append(body)
            completion = answers(prompt[len("input:"):])
            self._send(
                200,
                {"results": [{"generated_text": completion + "\n\nTRAILING JUNK"}]},
            )

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        llm = watsonx_http_backend(
            base,
            api_key="secret-key",
            iam_url=base + "/identity/token",
            project_id="proj-1",
            retry_base_s=0.01,
        )
        pdf = pd.DataFrame({"city": ["oslo", "bergen"], "pop": [1, 2]})
        results, _, _ = ingest(spark, [pdf], llm, persist=False)
        out = run_with_repair(spark, "how many rows", results, llm).collect()
        assert out[0]["n"] == 2
    finally:
        srv.shutdown()
        srv.server_close()

    # auth plumbing: IAM exchanged twice (initial + post-401 refresh),
    # bearer rotated tok-1 → tok-2
    assert state["tokens"] == 2
    assert "Bearer tok-1" in seen["auths"] and "Bearer tok-2" in seen["auths"]
    # retry plumbing: the 500 and the 401 were both served and recovered
    assert state["did500"] and state["did401"]
    # request contract: greedy params, stop sequence, model/project ids
    p = seen["bodies"][0]["parameters"]
    assert p["decoding_method"] == "greedy"
    assert p["stop_sequences"] == ["\n\n"]
    assert p["max_new_tokens"] == 4096
    assert seen["bodies"][0]["model_id"].startswith("meta-llama/")
    assert seen["bodies"][0]["project_id"] == "proj-1"
    # the base_url override on the SDK factory delegates here (no SDK
    # import, no ImportError)
    assert callable(watsonx_backend(base_url=base, api_key="k"))


def test_parse_json_swallows_only_missing_or_bad_json():
    from pandasqlite_spark.core.ingest import _parse_json

    assert _parse_json('Sure: {"a": 1} done', {}) == {"a": 1}
    assert _parse_json("no JSON here", {}) == {}  # no opener: min([])
    assert _parse_json('{"a": 1', None) is None  # no closer: rindex
    assert _parse_json("{a: 1}", {}) == {}  # JSONDecodeError
    assert _parse_json('{"a": NaN}', {}) == {"a": "NaN"}
    assert _parse_json('{"NaN": "missing", "A": "alpha"}', {}) == {"NaN": "missing", "A": "alpha"}
    with pytest.raises(AttributeError):  # not a reply at all: raised
        _parse_json(None, {})


def test_get_spark_sizes_shuffle_partitions_from_spark_graft_cpus(spark, monkeypatch):
    """``SPARK_GRAFT_CPUS`` (not the host's core count) sizes the
    shuffle partitions: max(8, cpus)."""
    import os

    from pandasqlite_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    try:
        assert get_spark().conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)


def _py4j_connection(spark):
    """The JVM end of the calling thread's Py4J connection."""
    gateway = spark.sparkContext._gateway
    return gateway.java_gateway_server.getCallbackClient().getPerThreadConnection()


def test_get_spark_turns_off_nagle_on_the_callers_py4j_connection(spark):
    from pandasqlite_spark.session import get_spark

    assert _py4j_connection(get_spark()).getSocket().getTcpNoDelay() is True


def test_py4j_answer_over_8kb_does_not_wait_for_a_delayed_ack(spark):
    """Py4J's JVM side sends an answer over its 8 KB buffer in two
    writes; with Nagle on, the second waits out the 40 ms delayed ACK.
    With Nagle on no call beats that floor, so the fastest of five is
    checked: scheduler noise on a loaded host can slow some calls."""
    import time

    from pandasqlite_spark.session import get_spark

    string_utils = get_spark().sparkContext._jvm.org.apache.commons.lang3.StringUtils
    times_ms = []
    for _ in range(5):
        t0 = time.perf_counter()
        assert len(string_utils.repeat("x", 9000)) == 9000
        times_ms.append((time.perf_counter() - t0) * 1e3)
    assert min(times_ms) < 20, times_ms


def test_get_spark_in_another_thread_sets_nagle_off_on_that_threads_connection(spark):
    """Each Python thread has its own Py4J connection; a thread keeps
    Nagle on until it calls ``get_spark`` itself."""
    import threading

    from pandasqlite_spark.session import get_spark

    main_conn = _py4j_connection(get_spark())
    seen = {}

    def worker():
        conn = _py4j_connection(spark)
        seen["own_connection"] = not conn.equals(main_conn)
        seen["before"] = conn.getSocket().getTcpNoDelay()
        seen["after"] = _py4j_connection(get_spark()).getSocket().getTcpNoDelay()

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    assert seen == {"own_connection": True, "before": False, "after": True}
