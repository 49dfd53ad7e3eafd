"""The query registry has one definition per key, and ``bench.py``
times registry keys.  No JVM is involved."""

from __future__ import annotations

import types

import pytest

from pandasqlite_spark.operators import registry

HEADLINE_NAMES = [
    "q1_pricing_summary",
    "q2_region_revenue_join",
    "q3_top_per_segment",
    "q4_cte_supplier_revenue",
    "q5_dedup_minhash",
    "q6_simsearch_topk",
    "q7_events_tumbling",
    "q8_events_session",
    "q9_text_quality",
    "q10_rollup",
    "q11_tpch_q5",
    "q12_tpch_q9",
    "q13_tpch_q21",
    "q14_table_checksum",
    "q15_simsearch_pq",
    "q16_simsearch_rrf",
    "q17_burst_viterbi",
    "q18_multimodal_decode",
    "q19_ivf_knn_join",
    "q20_multimodal_jpeg",
]


def _module(name: str, **attrs) -> types.ModuleType:
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    return m


@pytest.mark.parametrize(
    "attr, merge",
    [
        ("QUERIES", registry.queries),
        ("ORACLES", registry.oracle_sql),
        ("ORACLES_BIG", registry.oracle_sql_big),
    ],
)
def test_key_defined_by_two_modules_raises(monkeypatch, attr, merge):
    mods = (
        _module("mod_a", **{attr: {"k1": 1, "dup": 2}}),
        _module("mod_b", **{attr: {"dup": 3}}),
    )
    monkeypatch.setattr(registry, "_modules", lambda: mods)
    with pytest.raises(ValueError, match=r"'dup'.*mod_a.*mod_b"):
        merge()


def test_registry_merges_every_module():
    assert len(registry.queries()) == 400
    assert registry.oracle_sql().keys() <= registry.queries().keys()
    assert registry.oracle_sql_big().keys() <= registry.oracle_sql().keys()


def test_bench_queries_are_registry_functions():
    """Every headline query but q9 is the very function a registry key
    runs, so the bench times the oracle-checked code; no two headline
    names share a key."""
    import bench

    got = bench._queries("unused")
    assert list(got) == HEADLINE_NAMES
    registered = {id(fn): key for key, fn in registry.queries().items()}
    timed = {n: fn for n, fn in got.items() if n != "q9_text_quality"}
    assert [n for n, fn in timed.items() if id(fn) not in registered] == []
    keys = [registered[id(fn)] for fn in timed.values()]
    assert len(set(keys)) == len(keys)
