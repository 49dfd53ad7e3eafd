"""Rule-to-case coverage matrix (round-6 verdict #7): every
rewrite/repair rule in core/dialect.py must be exercised by >= 1
GO-Sales eval golden case, so a new rule cannot land untested.  Probes
call the ACTUAL rewrite functions (a probe fires only when the rule
changes the SQL), evaluated over the raw golden completions from
tests/test_gosales_eval.py with placeholder table hashes.  The call-rule
probes are built from the dialect's call table, one per entry, so a new
call rule gets a probe by being added to the table."""

from __future__ import annotations

import re

import pytest

from pandasqlite_spark.core import dialect as D

from tests.test_gosales_eval import _cases

_H = {"s": "tbl_s", "p": "tbl_p", "r": "tbl_r", "m": "tbl_m"}


def _golden_sqls() -> dict[str, str]:
    return {cid: sql_fn(_H) for cid, _q, sql_fn, _e in _cases()}


def _masked_probe(fn):
    def probe(sql: str) -> bool:
        masked, spans = D._mask_quoted_spans(sql)
        try:
            return fn(masked, spans) != masked
        except Exception:
            return False

    return probe


def _call_probe(names: set[str]):
    """Some call of a function in ``names`` that its ``_CALLS`` renderer
    rewrites."""

    def probe(sql: str) -> bool:
        masked, spans = D._mask_quoted_spans(sql)
        for m in D._CALL_RE.finditer(masked):
            end = D._close(masked, m.end())
            name = m[1].lower()
            if name in names and end:
                call = D._call(masked[m.end() : end - 1], spans, set())
                if D._CALLS[name](call) is not None:
                    return True
        return False

    return probe


#: call-table entries probed under one shared rule name
_CALL_RULE_NAMES = {
    "min": "scalar-minmax",
    "max": "scalar-minmax",
    "group_concat": "group-concat",
    "date": "now-forms",
    "datetime": "now-forms",
}


def _call_probes() -> dict:
    rules: dict[str, set[str]] = {}
    for name in D._CALLS:
        rules.setdefault(_CALL_RULE_NAMES.get(name, name), set()).add(name)
    return {rule: _call_probe(names) for rule, names in rules.items()}


def _regex_probe(pat: str):
    rx = re.compile(pat, re.IGNORECASE)

    def probe(sql: str) -> bool:
        masked, _ = D._mask_quoted_spans(sql)
        return bool(rx.search(masked))

    return probe


def _bare_agg_probe(marker: str):
    def probe(sql: str) -> bool:
        out = D.rewrite_bare_aggregate(sql)
        return out != sql and marker in out

    return probe


def _glob_edge_probe(edge_rx: str):
    """GLOB rewrite fired AND some GLOB pattern literal contains the
    edge construct (the '^' regex-metachar escape / the ']'-in-negated-
    class parse)."""
    rx = re.compile(edge_rx)

    def probe(sql: str) -> bool:
        masked, spans = D._mask_quoted_spans(sql)
        # snapshot the raw pattern literals first: _rewrite_glob mutates
        # spans in place (pattern literal -> compiled regex)
        globbed = [
            spans[int(m.group(1))]
            for m in re.finditer(r"GLOB\s+\x00(\d+)\x00", masked, re.IGNORECASE)
        ]
        if D._rewrite_glob(masked, spans, set()) == masked:
            return False
        return any(rx.search(p) for p in globbed)

    return probe


PROBES = {
    **_call_probes(),
    "glob": _masked_probe(lambda m, s: D._rewrite_glob(m, s, set())),
    "glob-caret-escape": _glob_edge_probe(r"\^"),
    "glob-negated-class-rbracket": _glob_edge_probe(r"\[\^\]"),
    "like-case-insensitive": _regex_probe(
        r"(\x00\d+\x00|\)|\w+(?:\.\w+)?)(\s+NOT)?\s+LIKE\s+"
    ),
    "double-quoted-literal": _masked_probe(
        lambda m, s: D._rewrite_double_quoted_literals(m, set())
    ),
    "cast-text": _regex_probe(r"\bAS\s+TEXT\b"),
    "cast-real": _regex_probe(r"\bAS\s+REAL\b"),
    "cast-numeric": _regex_probe(r"\bAS\s+NUMERIC\b"),
    "json-arrow": _regex_probe(r"->>?\s*\x00"),
    "limit-offset-comma": _regex_probe(r"\bLIMIT\s+\d+\s*,\s*\d+"),
    "repair-any-value": _bare_agg_probe("any_value("),
    "repair-max-by": _bare_agg_probe("max_by("),
    "repair-min-by": _bare_agg_probe("min_by("),
}


@pytest.mark.parametrize("rule", sorted(PROBES))
def test_every_dialect_rule_has_an_eval_case(rule):
    """Round-8 verdict #8: >= 2 covering cases per rule, in different
    usage shapes, so a rule regression cannot hide behind one happy
    path."""
    sqls = _golden_sqls()
    hits = [cid for cid, sql in sqls.items() if PROBES[rule](sql)]
    assert len(hits) >= 2, (
        f"dialect rule {rule!r} has {len(hits)} covering GO-Sales eval "
        f"case(s) {hits}; the matrix requires >= 2"
    )
