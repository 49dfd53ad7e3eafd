"""SQLite → Spark SQL dialect rewriter (small, rule-based).

The primary dialect strategy is prompt-side: the rebuild's
``[INSTRUCTION]`` targets Spark SQL directly (SURVEY.md §7), so this
rewriter only absorbs *residual* SQLite-isms an LLM habitually emits
(SURVEY.md §4.2-1).  It is a string/token transform — deliberately not a
Catalyst extension; everything downstream is stock Spark SQL.

Every rule runs on the SQL with its string literals and backtick
identifiers masked, so none fires inside them.  Two kinds of rule
(SQLite semantics per SURVEY.md §2.B dialect-Δ rows):

- call rules: ``_CALLS`` maps each SQLite function name to a renderer
  of one call — strftime, scalar min/max (§2.B-30), group_concat
  (§2.B-16), total, julianday, the 'now' forms of date/datetime,
  iif, unicode, unixepoch, printf, random().  :func:`_rewrite_calls`
  applies the table in one pass, innermost call first.
- token rules: CAST to TEXT/REAL/NUMERIC, the JSON arrows ``->`` and
  ``->>``, ``LIMIT off, cnt``, GLOB, ``LIKE`` → ``ILIKE`` (§2.B-8:
  SQLite LIKE is ASCII-case-insensitive, Spark's is case-sensitive),
  and double-quoted string *literals* → single-quoted (SQLite allows
  ``"1"`` as a literal; Spark would read an identifier) — a
  double-quoted known column/table identifier becomes a backtick one.
"""

from __future__ import annotations

import re
from typing import Iterator, NamedTuple

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


# ---------------------------------------------------------------------------
# Parenthesis depth.  One walk serves the call pass, the argument split and
# rewrite_bare_aggregate's clause scans.  A double-quoted span is skipped
# whole: it is never masked (it may be an identifier), and a paren or comma
# inside it is text.
# ---------------------------------------------------------------------------


def _depth0(s: str, token: str, pos: int = 0) -> Iterator[re.Match]:
    """Yield each match of the regex ``token`` in ``s[pos:]`` that lies
    outside every parenthesis opened after ``pos``.  A ``)`` that closes
    one opened before ``pos`` is yielded last (its ``close`` group set)."""
    rx = re.compile(rf'(?P<dq>"[^"]*")|(?P<open>\()|(?P<close>\))|{token}', re.IGNORECASE)
    depth = 0
    for m in rx.finditer(s, pos):
        if m["open"]:
            depth += 1
        elif m["close"]:
            if not depth:
                yield m
                return
            depth -= 1
        elif not depth and not m["dq"]:
            yield m


def _close(s: str, pos: int) -> int | None:
    """Index just past the ``)`` that closes a ``(`` opened right before
    ``pos``; None when the parentheses never balance."""
    return next((m.end() for m in _depth0(s, "(?!)", pos)), None)


def _split(s: str) -> list[str]:
    """``s`` cut at its depth-0 commas, each part stripped."""
    cuts = [m.start() for m in _depth0(s, ",") if not m["close"]]
    return [s[a + 1 : b].strip() for a, b in zip([-1, *cuts], [*cuts, len(s)])]


_DOUBLE_QUOTED_RE = re.compile(r'"([^"]*)"')


def _resolve_double_quoted(text: str, identifiers: set[str]) -> str:
    """SQLite reads ``"text"`` as an identifier when one exists, else as a
    string literal."""
    if text in identifiers or text.lower() in identifiers:
        return f"`{text}`"
    return "'" + text.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# Call rules.  A renderer gets one call, its arguments already rewritten,
# and returns the Spark SQL for it, or None to leave it as written.
# ---------------------------------------------------------------------------


class _Call(NamedTuple):
    inner: str  # the text between the parentheses
    args: list[str]  # ``inner`` cut at depth-0 commas
    spans: list[str]

    def lit(self, i: int) -> str | None:
        """The text of argument ``i`` when it is one single-quoted literal."""
        m = _MASK_TOKEN_RE.fullmatch(self.args[i]) if i < len(self.args) else None
        span = self.spans[int(m[1])] if m else ""
        return span[1:-1] if span.startswith("'") else None

    def is_now(self, i: int) -> bool:
        return (self.lit(i) or "").lower() == "now"


_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
}


def _strftime(c: _Call) -> str | None:
    fmt = c.lit(0)
    if fmt is None or len(c.args) != 2:
        return None
    d = c.args[1]
    if fmt == "%s":
        # SQLite: seconds since epoch (an INTEGER, not a string)
        return f"unix_timestamp({d})"
    if fmt == "%Y":
        return f"CAST(year({d}) AS STRING)"
    if fmt == "%w":
        # SQLite: day of week 0-6, Sunday = 0; Spark dayofweek() is
        # 1-7 Sunday = 1 (no ICU pattern matches SQLite's numbering)
        return f"CAST(dayofweek({d}) - 1 AS STRING)"
    for k, v in _STRFTIME_MAP.items():
        fmt = fmt.replace(k, v)
    return f"date_format({d}, '{fmt}')"


def _group_concat(c: _Call) -> str | None:
    if len(c.args) == 1:
        return f"array_join(collect_list({c.inner}), ',')"
    if len(c.args) == 2:
        return f"array_join(collect_list({c.args[0]}), {c.args[1]})"
    return None


def _julianday(c: _Call) -> str | None:
    """Julian Day number.  ``'now'`` keeps the time of day, as SQLite
    does; any other argument counts whole days from the epoch (JD
    2440587.5 = 1970-01-01 00:00 UTC), so SQLite's LLM-facing idiom
    ``julianday(a) - julianday(b)`` becomes a plain day difference."""
    if len(c.args) != 1:
        return None
    if c.is_now(0):
        return "(unix_micros(current_timestamp()) / 86400000000.0d + 2440587.5d)"
    return f"(datediff(to_date({c.args[0]}), DATE'1970-01-01') + 2440587.5)"


_UNIT_MOD_RE = re.compile(r"([+-]?\d+)\s+(day|month|year)s?", re.IGNORECASE)


def _now_form(fn: str):
    """``date('now'[, '±N day/month/year'])`` and its ``datetime`` twin
    as arithmetic on the current date or timestamp: ``to_date('now')``
    would be a silent wrong value.  Any other modifier ('start of month',
    'weekday 0', chained modifiers) stays as written and fails loudly at
    analysis."""

    def render(c: _Call) -> str | None:
        if not c.is_now(0) or len(c.args) > 2:
            return None
        now = "current_date()" if fn == "date" else "current_timestamp()"
        if len(c.args) == 1:
            return now
        mod = _UNIT_MOD_RE.fullmatch(c.lit(1) or "")
        if not mod:
            return None
        n, unit = int(mod[1]), mod[2].lower()
        if fn == "datetime":
            return f"timestampadd({unit.upper()}, {n}, {now})"
        if unit == "day":
            return f"date_add({now}, {n})"
        return f"add_months({now}, {n if unit == 'month' else n * 12})"

    return render


def _rename(fn: str):
    return lambda c: f"{fn}({c.inner})"


#: SQLite function name → renderer of one call.
_CALLS = {
    "strftime": _strftime,
    # MIN(a, b[, ...]) with 2+ args is scalar in SQLite; MIN(a) is the
    # aggregate and stays
    "min": lambda c: f"least({c.inner})" if len(c.args) > 1 else None,
    "max": lambda c: f"greatest({c.inner})" if len(c.args) > 1 else None,
    "group_concat": _group_concat,
    # SQLite's never-NULL sum
    "total": lambda c: f"coalesce(sum({c.inner}), 0.0d)",
    "julianday": _julianday,
    "date": _now_form("date"),
    "datetime": _now_form("datetime"),
    "iif": _rename("if"),
    # the first code point
    "unicode": _rename("ascii"),
    # SQLite ≥3.38; a bare unixepoch() is the current epoch second
    "unixepoch": _rename("unix_timestamp"),
    # the same C-style format language
    "printf": _rename("format_string"),
    "random": lambda c: None if c.inner.strip() else "rand()",
}

_CALL_RE = re.compile(r"\b(" + "|".join(_CALLS) + r")\s*\(", re.IGNORECASE)


def _call(inner: str, spans: list[str], identifiers: set[str]) -> _Call:
    """``inner`` as a call's arguments.  A double-quoted argument is
    resolved here, so a renderer reads ``"%Y"`` as it reads ``'%Y'``."""
    args = _split(inner)
    for i, a in enumerate(args):
        if dq := _DOUBLE_QUOTED_RE.fullmatch(a):
            spans.append(_resolve_double_quoted(dq[1], identifiers))
            args[i] = f"\x00{len(spans) - 1}\x00"
    return _Call(inner, args, spans)


def _rewrite_calls(sql: str, spans: list[str], identifiers: set[str]) -> str:
    """Apply ``_CALLS`` to every call in the masked ``sql``, rewriting a
    call's arguments before the call itself."""
    out, i = [], 0
    while m := _CALL_RE.search(sql, i):
        end = _close(sql, m.end())
        if end is None:
            break
        inner = _rewrite_calls(sql[m.end() : end - 1], spans, identifiers)
        new = _CALLS[m[1].lower()](_call(inner, spans, identifiers))
        out += [sql[i : m.start()], m[0] + inner + ")" if new is None else new]
        i = end
    return "".join(out) + sql[i:]


# ---------------------------------------------------------------------------
# Token rules
# ---------------------------------------------------------------------------

_TOKEN_RULES = [
    (re.compile(r"\bAS\s+TEXT\b", re.IGNORECASE), "AS STRING"),
    (re.compile(r"\bAS\s+REAL\b", re.IGNORECASE), "AS DOUBLE"),
    # SQLite NUMERIC affinity preserves the value; Spark NUMERIC is
    # decimal(10,0) and would TRUNCATE — widen to DOUBLE
    (re.compile(r"\bAS\s+NUMERIC\b", re.IGNORECASE), "AS DOUBLE"),
    # a ->> '$.k' / a -> '$.k' → get_json_object(a, '$.k').  (-> returns
    # JSON text in SQLite; for scalar paths the two coincide with
    # get_json_object's string result.)
    (re.compile(r"([A-Za-z_][\w.]*|\))\s*->>?\s*(\x00\d+\x00)"), r"get_json_object(\1, \2)"),
    # the SQLite/MySQL offset-first form
    (re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.IGNORECASE), r"LIMIT \2 OFFSET \1"),
]


def _rewrite_double_quoted_literals(sql: str, identifiers: set[str]) -> str:
    return _DOUBLE_QUOTED_RE.sub(lambda m: _resolve_double_quoted(m[1], identifiers), sql)


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
    masked = _rewrite_calls(masked, spans, identifiers)
    for rx, repl in _TOKEN_RULES:
        masked = rx.sub(repl, masked)
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
#: (the ``min``/``max`` call rules), so a surviving ``min(``/``max(`` is
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
    from_m = next(_depth0(masked, r"\bfrom\b", head.end()), None)
    if from_m is None or from_m["close"]:
        return sql
    from_start = from_m.start()
    items = _split(masked[head.end():from_start])
    # the GROUP-BY-present twin (Spark: MISSING_AGGREGATION): SQLite
    # also picks an arbitrary in-group row for select items outside the
    # GROUP BY list — `SELECT city, pop FROM t GROUP BY city`.  Collect
    # the depth-0 grouping expressions so those items pass through
    # unwrapped; anything else bare gets the same any_value() pick.
    group_exprs: set[str] = set()
    gb = re.search(r"\bgroup\s+by\b", masked[from_start:], re.IGNORECASE)
    if gb:
        gb_start = from_start + gb.end()
        gb_end = next(
            (
                m.start()
                for m in _depth0(masked, r"\border\s+by\b|\bhaving\b|\blimit\b|\bwindow\b", gb_start)
                if not m["close"]
            ),
            len(masked),
        )
        group_exprs = {g.lower().replace("`", "") for g in _split(masked[gb_start:gb_end])}
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
        j = _close(masked, aggs[0].end())
        arg = masked[aggs[0].end() : (j or len(masked)) - 1].strip()
        arg = re.sub(r"^distinct\s+", "", arg, flags=re.IGNORECASE)
        # one plain argument only (a 2-arg min/max is SQLite's SCALAR
        # form — rewritten to least/greatest before this repair runs,
        # but stay defensive); ties pick an arbitrary extremum row on
        # both engines
        if j and arg and len(_split(arg)) == 1:
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
