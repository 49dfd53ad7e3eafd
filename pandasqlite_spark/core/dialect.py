"""SQLite → Spark SQL dialect rewriter (small, rule-based).

The primary dialect strategy is prompt-side: the rebuild's
``[INSTRUCTION]`` targets Spark SQL directly (SURVEY.md §7), so this
rewriter only absorbs *residual* SQLite-isms an LLM habitually emits
(SURVEY.md §4.2-1).  It is a string/token transform — deliberately not a
Catalyst extension; everything downstream is stock Spark SQL.

Handled (SQLite semantics per SURVEY.md §2.B dialect-Δ rows):

- ``strftime('%Y', d)`` and friends → ``date_format`` / ``year()`` etc.
- scalar two-arg ``min/max`` → ``least/greatest`` (§2.B-30)
- ``ifnull`` → kept (Spark has it); ``random()`` → ``rand()``
- ``GROUP_CONCAT(x [, sep])`` → ``array_join(collect_list(x), sep)``
  (§2.B-16)
- double-quoted string *literals* → single-quoted (SQLite allows
  ``"1"`` as a literal; Spark would read an identifier) — only rewritten
  when the quoted text is not a known column/table identifier.
- ``LIKE`` case-insensitivity (§2.B-8): SQLite LIKE is ASCII-case-
  insensitive; Spark's is case-sensitive → rewrite to ``ILIKE``.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Quote masking.  Every regex rewrite below must NOT fire inside a string
# literal ('I LIKE it' must stay verbatim) or a backtick identifier.  We
# replace those spans with \x00<n>\x00 sentinels first and restore them last.
# ---------------------------------------------------------------------------
_MASK_RE = re.compile(r"'(?:[^']|'')*'|`[^`]*`")
_MASK_TOKEN_RE = re.compile(r"\x00(\d+)\x00")


def _mask_quoted_spans(sql: str) -> tuple[str, list[str]]:
    spans: list[str] = []

    def repl(m: re.Match) -> str:
        spans.append(m.group(0))
        return f"\x00{len(spans) - 1}\x00"

    return _MASK_RE.sub(repl, sql), spans


def _unmask(sql: str, spans: list[str]) -> str:
    return _MASK_TOKEN_RE.sub(lambda m: spans[int(m.group(1))], sql)


_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
}


def _close_paren(s: str, start: int) -> int | None:
    """Index just past the ``)`` that closes a ``(`` opened right before
    ``start``; None when the parentheses never balance."""
    depth = 1
    for j in range(start, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if not depth:
                return j + 1
    return None


def _rewrite_strftime(sql: str, spans: list[str]) -> str:
    """Paren-balanced rewrite of ``strftime(<fmt>, <expr>)``.

    Operates on the MASKED string: the format literal is a mask token
    whose text we look up in ``spans``; the second argument is consumed
    with a paren-balanced scan so nested calls like
    ``strftime('%Y', date(x))`` rewrite correctly (the old ``[^)]+?``
    regex stopped at the first ``)`` and emitted malformed SQL).
    """

    def render(fmt: str, arg: str) -> str:
        if fmt == "%s":
            # SQLite: seconds since epoch (an INTEGER, not a string)
            return f"unix_timestamp({arg})"
        if fmt == "%Y":
            return f"CAST(year({arg}) AS STRING)"
        if fmt == "%m":
            return f"date_format({arg}, 'MM')"
        if fmt == "%d":
            return f"date_format({arg}, 'dd')"
        if fmt == "%w":
            # SQLite: day of week 0-6, Sunday = 0; Spark dayofweek() is
            # 1-7 Sunday = 1 (no ICU pattern matches SQLite's numbering)
            return f"CAST(dayofweek({arg}) - 1 AS STRING)"
        out = fmt
        for k, v in _STRFTIME_MAP.items():
            out = out.replace(k, v)
        return f"date_format({arg}, '{out}')"

    pat = re.compile(r"strftime\(\s*\x00(\d+)\x00\s*,\s*", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        fmt = spans[int(m.group(1))].strip("'")
        j = _close_paren(sql, m.end()) or len(sql)
        arg = sql[m.end() : j - 1].strip()
        out.append(render(fmt, arg))
        i = j
    return "".join(out)


def _rewrite_scalar_minmax(sql: str) -> str:
    # MIN(a, b[, ...]) with 2+ args is scalar in SQLite → least();
    # aggregate MIN(a) is untouched.  Parenthesis-aware scan.
    out, i = [], 0
    pat = re.compile(r"\b(min|max)\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        j = _close_paren(sql, m.end()) or len(sql)
        fn = m.group(1).lower()
        inner = _rewrite_scalar_minmax(sql[m.end() : j - 1])  # recurse into args
        if len(_split_top_level(sql[m.end() : j])) > 1:
            out.append(("least(" if fn == "min" else "greatest(") + inner + ")")
        else:
            out.append(m.group(0) + inner + ")")
        i = j
    return "".join(out)


def _rewrite_group_concat(sql: str) -> str:
    def repl(m: re.Match) -> str:
        args = m.group(1)
        parts = _split_top_level(args)
        if len(parts) == 2:
            return f"array_join(collect_list({parts[0]}), {parts[1]})"
        return f"array_join(collect_list({args}), ',')"

    return re.sub(r"group_concat\(([^()]*)\)", repl, sql, flags=re.IGNORECASE)


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _rewrite_julianday(sql: str) -> str:
    """``julianday(x)`` → Julian Day number via ``datediff`` from the
    epoch (JD 2440587.5 = 1970-01-01 00:00 UTC).  SQLite's LLM-facing
    idiom ``julianday(a) - julianday(b)`` thereby collapses to a plain
    day difference.  Paren-balanced so nested calls survive."""
    out, i = [], 0
    pat = re.compile(r"\bjulianday\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        j = _close_paren(sql, m.end()) or len(sql)
        arg = _rewrite_julianday(sql[m.end() : j - 1]).strip()
        out.append(f"(datediff(to_date({arg}), DATE'1970-01-01') + 2440587.5)")
        i = j
    return "".join(out)


_UNIT_MOD_RE = re.compile(r"^'([+-]?\d+)\s+(day|month|year)s?'$", re.IGNORECASE)


def _rewrite_now_forms(sql: str, spans: list[str]) -> str:
    """SQLite 'now' idioms that would otherwise turn into SILENT NULLs
    (``to_date('now')`` parses to NULL under ANSI-off — the worst
    failure mode, wrong values with no error):

    - ``julianday('now')`` → current Julian Day from
      ``current_timestamp()`` (time-of-day included, as SQLite does)
    - ``date('now', '±N day/month/year')`` → ``date_add``/``add_months``
      arithmetic on ``current_date()``
    - ``datetime('now', '±N day/month/year')`` → ``timestampadd`` on
      ``current_timestamp()``

    Multi-modifier forms ('start of month', 'weekday 0', chained
    modifiers) stay untouched and fail loudly at analysis."""

    def _jd_now(m: re.Match) -> str:
        if spans[int(m.group(1))].lower() == "'now'":
            return "(unix_micros(current_timestamp()) / 86400000000.0d + 2440587.5d)"
        return m.group(0)

    sql = re.sub(
        r"\bjulianday\s*\(\s*\x00(\d+)\x00\s*\)", _jd_now, sql, flags=re.IGNORECASE
    )

    def _date_mod(m: re.Match) -> str:
        fn = m.group(1).lower()
        if spans[int(m.group(2))].lower() != "'now'":
            return m.group(0)
        mod = _UNIT_MOD_RE.match(spans[int(m.group(3))])
        if not mod:
            return m.group(0)
        n, unit = int(mod.group(1)), mod.group(2).lower()
        if fn == "date":
            if unit == "day":
                return f"date_add(current_date(), {n})"
            months = n if unit == "month" else n * 12
            return f"add_months(current_date(), {months})"
        return f"timestampadd({unit.upper()}, {n}, current_timestamp())"

    return re.sub(
        r"\b(date|datetime)\s*\(\s*\x00(\d+)\x00\s*,\s*\x00(\d+)\x00\s*\)",
        _date_mod,
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_double_quoted_literals(sql: str, identifiers: set[str]) -> str:
    def repl(m: re.Match) -> str:
        inner = m.group(1)
        if inner in identifiers or inner.lower() in identifiers:
            return f"`{inner}`"
        return "'" + inner.replace("'", "''") + "'"

    return re.sub(r'"([^"]*)"', repl, sql)


_TABLE_TOKEN_RE = re.compile(r"(?<![\w`'\"])table(?![\w`'\"])", re.IGNORECASE)


def rewrite_table_placeholder(sql: str, table_name: str) -> str:
    """Token-aware replacement of the bare identifier ``table`` with the
    real (hash-named) table.  Fixes the reference's naive substring
    replace (``pandasqlite/pandasqlite.py:247``) that corrupts
    identifiers merely containing the word "table".  Quoted spans are
    masked so a literal like ``'my table'`` is never rewritten."""
    masked, spans = _mask_quoted_spans(sql)
    masked = _TABLE_TOKEN_RE.sub(f"`{table_name}`", masked)
    return _unmask(masked, spans)


def _rewrite_misc_sqlite(sql: str, spans: list[str]) -> str:
    """Small token-level SQLite-isms (applied on the masked string, so
    literals are never touched):

    - ``iif(c, a, b)`` → ``if(c, a, b)``
    - ``CAST(x AS TEXT/REAL)`` → Spark type names STRING/DOUBLE
    - ``date('now')`` / ``datetime('now')`` → current_date/timestamp
      (plain 'now', no modifiers — modifier forms fail loudly at
      analysis rather than silently shifting time)
    - ``LIMIT off, cnt`` (SQLite/MySQL offset-first form) →
      ``LIMIT cnt OFFSET off``
    - ``total(x)`` → ``coalesce(sum(x), 0.0d)`` (SQLite's
      never-NULL sum)
    """
    sql = re.sub(r"\biif\s*\(", "if(", sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bAS\s+TEXT\b", "AS STRING", sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bAS\s+REAL\b", "AS DOUBLE", sql, flags=re.IGNORECASE)
    # SQLite NUMERIC affinity preserves the value; Spark NUMERIC is
    # decimal(10,0) and would TRUNCATE — widen to DOUBLE
    sql = re.sub(r"\bAS\s+NUMERIC\b", "AS DOUBLE", sql, flags=re.IGNORECASE)
    # SQLite unicode(c) == Spark ascii(c) (first code point)
    sql = re.sub(r"\bunicode\s*\(", "ascii(", sql, flags=re.IGNORECASE)

    # a ->> '$.k' / a -> '$.k' → get_json_object(a, '$.k').  (-> returns
    # JSON text in SQLite; for scalar paths the two coincide with
    # get_json_object's string result.)
    sql = re.sub(
        r"([A-Za-z_][\w.]*|\))\s*->>?\s*\x00(\d+)\x00",
        lambda m: f"get_json_object({m.group(1)}, \x00{m.group(2)}\x00)",
        sql,
    )

    def _now(m: re.Match) -> str:
        idx = int(m.group(2))
        if spans[idx].lower() == "'now'":
            return "current_date()" if m.group(1).lower() == "date" else "current_timestamp()"
        return m.group(0)

    sql = re.sub(r"\b(date|datetime)\s*\(\s*\x00(\d+)\x00\s*\)", _now, sql, flags=re.IGNORECASE)
    sql = re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)",
        r"LIMIT \2 OFFSET \1",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\btotal\s*\(([^()]*)\)",
        r"coalesce(sum(\1), 0.0d)",
        sql,
        flags=re.IGNORECASE,
    )
    # unixepoch(x) (SQLite ≥3.38) → unix_timestamp(x); bare
    # unixepoch() → current epoch seconds
    sql = re.sub(
        r"\bunixepoch\s*\(\s*\)",
        "unix_timestamp()",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(r"\bunixepoch\s*\(", "unix_timestamp(", sql, flags=re.IGNORECASE)
    # printf → format_string (same C-style format language)
    sql = re.sub(r"\bprintf\s*\(", "format_string(", sql, flags=re.IGNORECASE)
    return sql


_GLOB_SAFE_RE = re.compile(r"^'[^%_\[]*'$")


def _glob_to_regex(pat: str) -> str:
    """A LITERAL glob pattern → anchored Java regex string.  ``*``→
    ``.*``, ``?``→``.``, ``[seq]``/``[^seq]`` pass through (glob and
    regex classes share syntax), everything else is escaped — so LIKE
    metachars (``%``/``_``) and regex metachars in the pattern stay
    literal, which a LIKE translation cannot guarantee."""
    out, i, n = [], 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            # SQLite treats a ] in first position as a literal — for
            # BOTH forms, so the close-bracket scan must start one
            # further when the class is negated (`[^]]` means "any char
            # but ]", not an empty class; round-6 ADVICE)
            lit = i + 3 if pat[i + 1 : i + 2] == "^" else i + 2
            j = pat.find("]", lit)
            if j == -1:
                out.append(re.escape(c))
            else:
                cls = pat[i : j + 1]
                # Java regex lacks the POSIX leading-]-is-literal rule:
                # escape it ([]a] → [\]a], [^]] → [^\]])
                if cls.startswith("[]"):
                    cls = "[\\]" + cls[2:]
                elif cls.startswith("[^]"):
                    cls = "[^\\]" + cls[3:]
                out.append(cls)
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def _glob_regex_expr(operand: str) -> str:
    """A DYNAMIC (column-valued) glob pattern → anchored-regex SQL
    expression: escape the regex metachars (except ``* ? [ ] ^ -``,
    which glob classes share with regex), then ``*``→``.*``,
    ``?``→``.`` — all JVM-side ``regexp_replace``, no UDF."""
    esc = "regexp_replace(" + operand + r", '([.$+(){}\\\\|])', '\\\\$1')"
    # a mid-string ^ is a literal in GLOB but an anchor in regex (and
    # '^a^b$' can never match): escape ^ except right after [ where it
    # is class negation on both sides (round-6 ADVICE); an escaped ^
    # inside a class body is still the literal, so only the [-adjacent
    # position needs protecting
    car = "regexp_replace(" + esc + r", '(?<!\\[)\\^', '\\\\$0')"
    # a [ that can never close is an unterminated class: SQLite GLOB
    # matches nothing, Java regex THROWS — substitute a never-matching
    # atom so the RLIKE compiles AND keeps SQLite's no-match semantics
    brk = "regexp_replace(" + car + r", '\\[(?![^\\]]*\\])', '(?!)')"
    star = "regexp_replace(" + brk + r", '\\*', '.*')"
    q = "regexp_replace(" + star + r", '\\?', '.')"
    return "concat('^', " + q + ", '$')"


def _rewrite_glob(sql: str, spans: list[str], identifiers: set[str] | None = None) -> str:
    """``x GLOB '<pat>'`` → case-sensitive LIKE with ``*``→``%``,
    ``?``→``_`` when the pattern is plain; a pattern carrying LIKE
    metachars or a ``[class]`` instead becomes an anchored ``RLIKE``
    built from :func:`_glob_to_regex` (exact GLOB semantics — Spark has
    no GLOB, and leaving it would fail at parse; round-4 ADVICE).
    GLOB is case-sensitive, so the rewrites target LIKE/RLIKE, and the
    ``\\x01`` tag keeps them from the later LIKE→ILIKE rule."""

    def repl(m: re.Match) -> str:
        idx = int(m.group(2))
        if _GLOB_SAFE_RE.match(spans[idx]):
            spans[idx] = spans[idx].replace("*", "%").replace("?", "_")
            # plain LIKE is case-sensitive in Spark (only our ILIKE
            # rewrite relaxes it), so keep LIKE and mark it so the
            # ILIKE pass skips this one
            return f"{m.group(1)} LIKE\x01 \x00{idx}\x00"
        # LIKE metachars / glob class in the pattern: exact anchored
        # regex (%, _ stay literal; [seq] becomes a regex class)
        rx = _glob_to_regex(spans[idx][1:-1].replace("''", "'"))
        spans[idx] = "'" + rx.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return f"{m.group(1)} RLIKE\x01 \x00{idx}\x00"

    # SQLite also accepts a double-quoted pattern (``GLOB "x*"``);
    # double quotes aren't masked (they're ambiguous with identifiers)
    # and SQLite resolves a double-quoted GLOB operand as an IDENTIFIER
    # first, so promote to a pattern literal only when the text carries
    # glob metacharacters (*, ?, [) or is provably not a known column —
    # ``x GLOB "col"`` (a column reference) is handled below as a
    # dynamic pattern.
    def promote(m: re.Match) -> str:
        text = m.group(1)
        is_pattern = any(ch in text for ch in "*?[") or (
            identifiers and text.lower() not in identifiers
        )
        if not is_pattern:
            return m.group(0)
        spans.append(f"'{text}'")
        return f"GLOB \x00{len(spans) - 1}\x00"

    sql = re.sub(r'GLOB\s+"([^"]*)"', promote, sql, flags=re.IGNORECASE)
    # anchor: mask token, double-quoted identifier (not yet rewritten
    # at this stage), close-paren, or dotted identifier
    sql = re.sub(
        r'(\x00\d+\x00|"[^"]*"|\)|\w+(?:\.\w+)?)\s+GLOB\s+\x00(\d+)\x00',
        repl,
        sql,
        flags=re.IGNORECASE,
    )

    # remaining ``x GLOB <operand>`` forms have a column-valued (or
    # schema-unknown double-quoted) pattern: build the anchored regex
    # in SQL.  The later double-quoted pass resolves the operand the
    # same way SQLite does — backtick if a known column, else a string
    # literal (the legacy fallback) — so both meanings execute.
    def col_repl(m: re.Match) -> str:
        return f"{m.group(1)} RLIKE\x01 {_glob_regex_expr(m.group(2))}"

    return re.sub(
        r'(\x00\d+\x00|"[^"]*"|\)|\w+(?:\.\w+)?)\s+GLOB\s+("[^"]*"|\w+(?:\.\w+)?)',
        col_repl,
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_sqlite_to_spark(sql: str, identifiers: set[str] | None = None) -> str:
    """Apply all residual-SQLite-ism rewrites to a SQL string.

    String literals and backtick identifiers are masked first, so no
    rewrite ever fires inside them (``WHERE note = 'I LIKE it'`` is
    untouched — the round-1 corruption bug).
    """
    identifiers = {i.lower() for i in (identifiers or set())}
    masked, spans = _mask_quoted_spans(sql)
    masked = _rewrite_strftime(masked, spans)
    masked = _rewrite_scalar_minmax(masked)
    masked = _rewrite_group_concat(masked)
    masked = re.sub(r"\brandom\s*\(\s*\)", "rand()", masked, flags=re.IGNORECASE)
    masked = _rewrite_now_forms(masked, spans)
    masked = _rewrite_julianday(masked)
    masked = _rewrite_misc_sqlite(masked, spans)
    masked = _rewrite_glob(masked, spans, identifiers)
    masked = re.sub(
        r"(\x00\d+\x00|\)|\w+(?:\.\w+)?)(\s+NOT)?(\s+)LIKE\s+",
        r"\1\2\3ILIKE ",
        masked,
        flags=re.IGNORECASE,
    )
    # un-tag the case-sensitive LIKEs the GLOB rewrite produced
    masked = masked.replace("LIKE\x01", "LIKE")
    masked = _rewrite_double_quoted_literals(masked, identifiers)
    return _unmask(masked, spans)


# --------------------------------------------------------------------------
# MISSING_GROUP_BY deterministic repair (§2.B-15)
# --------------------------------------------------------------------------

#: Function heads that make a select item an aggregate.  Two-argument
#: scalar MIN/MAX are rewritten to least/greatest BEFORE this check
#: (``_rewrite_scalar_minmax``), so a surviving ``min(``/``max(`` is
#: the aggregate form.
_AGG_HEAD_RE = re.compile(
    r"\b(count|sum|avg|min|max|total|group_concat|listagg|string_agg"
    r"|collect_list|collect_set|array_agg|any_value|median|mode"
    r"|stddev\w*|var_\w+|variance|corr|covar\w*|bool_and|bool_or|every"
    r"|bit_and|bit_or|bit_xor|percentile\w*|approx_\w+|first|last"
    r"|first_value|last_value)\s*\(",
    re.IGNORECASE,
)

_OVER_RE = re.compile(r"\bover\s*\(", re.IGNORECASE)


def rewrite_bare_aggregate(sql: str) -> str:
    """SQLite permits a SELECT list that mixes bare non-grouped
    expressions with aggregation — both with no GROUP BY (`SELECT city,
    SUM(pop) FROM t`) and with one (`SELECT city, pop FROM t GROUP BY
    city`) — evaluating the bare expression on an *arbitrary* row of
    the group (`pandasqlite` inherits this via SQLite; SURVEY §2.B-15).
    Spark raises ``MISSING_GROUP_BY`` / ``MISSING_AGGREGATION``
    respectively.  This wraps each bare non-grouped top-level select
    item in ``any_value(...)`` — Spark's exact analog of the
    arbitrary-row pick — aliased to the name the unwrapped expression
    would have produced; grouped items (by expression, alias, or
    SQLite positional ``GROUP BY 1``) pass through.

    Applied by :func:`~pandasqlite_spark.core.text2sql.run_with_repair`
    as a deterministic repair ONLY after Catalyst raises one of those
    two analyzer errors, never speculatively.  Conservative by design:
    returns the input unchanged for shapes it cannot parse with
    confidence (CTEs, set operations, window functions) — those fall
    through to the LLM repair loop.
    """
    masked, spans = _mask_quoted_spans(sql)
    low = masked.lower()
    if re.search(r"\bwith\b|\bunion\b|\bintersect\b|\bexcept\b", low):
        return sql
    if _OVER_RE.search(masked):
        return sql
    head = re.match(r"^\s*select\s+(?:distinct\s+)?", masked, re.IGNORECASE)
    if not head:
        return sql
    # top-level FROM (depth-0 only; a FROM inside a subquery is deeper)
    depth, from_start = 0, None
    for m in re.finditer(r"[()]|\bfrom\b", masked[head.end():], re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            from_start = head.end() + m.start()
            break
    if from_start is None:
        return sql
    items = _split_top_level(masked[head.end():from_start])
    # the GROUP-BY-present twin (Spark: MISSING_AGGREGATION): SQLite
    # also picks an arbitrary in-group row for select items outside the
    # GROUP BY list — `SELECT city, pop FROM t GROUP BY city`.  Collect
    # the depth-0 grouping expressions so those items pass through
    # unwrapped; anything else bare gets the same any_value() pick.
    group_exprs: set[str] = set()
    gb = re.search(r"\bgroup\s+by\b", masked[from_start:], re.IGNORECASE)
    if gb:
        gb_start = from_start + gb.end()
        depth, gb_end = 0, len(masked)
        for m in re.finditer(
            r"[()]|\border\s+by\b|\bhaving\b|\blimit\b|\bwindow\b",
            masked[gb_start:],
            re.IGNORECASE,
        ):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                gb_end = gb_start + m.start()
                break
        group_exprs = {
            g.strip().lower().replace("`", "")
            for g in _split_top_level(masked[gb_start:gb_end])
        }
        if not group_exprs or any(not g for g in group_exprs):
            return sql
    elif not any(_AGG_HEAD_RE.search(it) for it in items):
        return sql  # no aggregate and no GROUP BY — not the §2.B-15 shape

    # positional GROUP BY (SQLite permits `GROUP BY 1`) → item indices
    grouped_idx = {
        int(g) - 1 for g in group_exprs if g.isdigit() and 0 < int(g) <= len(items)
    }

    def _grouped(it: str, idx: int) -> bool:
        if idx in grouped_idx:
            return True
        norm = it.strip().lower().replace("`", "")
        if norm in group_exprs:
            return True
        # `expr AS alias`: grouped if the expression OR the alias is
        alias_m = re.search(r"\s+as\s+([\w.]+)\s*$", norm)
        return bool(alias_m) and (
            norm[: alias_m.start()].strip() in group_exprs
            or alias_m.group(1) in group_exprs
        )

    # SQLite's ONE documented exception to the arbitrary-row pick
    # (sqlite.org/lang_select.html "Bare columns in an aggregate
    # query"): when the statement contains exactly one aggregate and it
    # is min() or max(), bare columns take their values from the row
    # achieving the extremum (per group when GROUP BY is present).
    # Spark's exact analog is max_by/min_by keyed on the aggregate's
    # argument — any_value() here would silently return an arbitrary
    # row's value where SQLite guarantees the extremum row's (round-6
    # ADVICE).
    picker = lambda expr: f"any_value({expr})"  # noqa: E731
    aggs = list(_AGG_HEAD_RE.finditer(masked))
    if len(aggs) == 1 and aggs[0].group(1).lower() in ("min", "max"):
        j = _close_paren(masked, aggs[0].end())
        arg = masked[aggs[0].end() : (j or len(masked)) - 1].strip()
        arg = re.sub(r"^distinct\s+", "", arg, flags=re.IGNORECASE)
        # one plain argument only (a 2-arg min/max is SQLite's SCALAR
        # form — rewritten to least/greatest before this repair runs,
        # but stay defensive); ties pick an arbitrary extremum row on
        # both engines
        if j and arg and len(_split_top_level(arg)) == 1:
            by = "max_by" if aggs[0].group(1).lower() == "max" else "min_by"
            picker = lambda expr, by=by, arg=arg: f"{by}({expr}, {arg})"  # noqa: E731
    out_items = []
    for idx, it in enumerate(items):
        if _AGG_HEAD_RE.search(it) or it == "*" or _grouped(it, idx):
            out_items.append(it)
            continue
        alias_m = re.search(r"\s+as\s+(\x00\d+\x00|[\w.]+)\s*$", it, re.IGNORECASE)
        if alias_m:
            expr = it[: alias_m.start()].strip()
            out_items.append(f"{picker(expr)} AS {alias_m.group(1)}")
        else:
            name = _unmask(it, spans).strip().replace("`", "")
            out_items.append(f"{picker(it)} AS `{name}`")
    rebuilt = masked[: head.end()] + ", ".join(out_items) + " " + masked[from_start:]
    return _unmask(rebuilt, spans)
