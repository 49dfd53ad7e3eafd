#!/usr/bin/env python
"""Plan-shape audit over EVERY queries() key: builds each DataFrame at
sf0.01, inspects the executed plan, and flags scale anti-patterns —

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` outside the
  declared allowlist (theta/cross-join keys and one-row broadcast
  scalars are legitimate; an all-pairs product sneaking into a default
  path is not);
- ``BatchEvalPython`` (row-at-a-time Python — never acceptable; the
  Arrow path is ``ArrowEvalPython``);
- ``Window`` operators with NO partition spec (single-partition global
  sort — fine over a bounded aggregate like an hourly grid or a top-k
  shortlist, a scale-killer over raw rows; every such window must be
  declared in ``GLOBAL_WINDOW_OK`` with its boundedness argument —
  round-2 verdict item 4: the invariant used to live in prose only);
- per-key Exchange counts (the shuffle budget), so a shuffle that
  sneaks into a formerly shuffle-free operator shows up in the diff of
  PLAN_AUDIT.md.

Usage: python scripts/plan_audit.py [sf_dir] > PLAN_AUDIT.md
Exits non-zero if any key raises an UNDECLARED flag.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pandasqlite_spark.session import get_spark  # noqa: E402

# keys whose nested-loop/cartesian joins are part of the declared
# contract: explicit cross/theta joins, all-pairs oracle baselines, and
# one-row broadcast scalars (a BroadcastNestedLoopJoin over ONE row is a
# constant lookup, not a blow-up).
# keys whose Python UDTF stage is the declared operator contract
UDTF_OK = {"udtf-split-sentences"}

NESTED_LOOP_OK = {
    "join-cross",
    "join-theta",
    "dedup-embedding-cosine",  # declared all-pairs oracle baseline
    "dedup-jaccard-verify",
    "simsearch-topk",  # 1-row broadcast query vector
    "simsearch-filtered",  # same 1-row query broadcast, pre-filtered corpus
    "simsearch-rrf-hybrid",  # 1-row query-norm + 1-row (N, avgdl) corpus broadcasts
    "events-kaplan-meier",  # |event-days| × subject-durations risk-set join
    "simsearch-ivf",
    "simsearch-ivf-kmeans",
    "simsearch-sq-rerank",
    "simsearch-ivf-pq",  # broadcast centroid/ADC-table crossJoins (≤16 rows each)
    "simsearch-nprobe-curve",  # 1-row recall/candidate-count summary broadcasts
    "simsearch-ivf-derived",  # same summary broadcasts, derived-cells twin
    "simsearch-nprobe-perturbed",  # same summary broadcasts, perturbed-corpus twin
    "simsearch-knn-join",  # 8-row broadcast query batch × corpus fold (round-9
    "simsearch-recall-eval",  # knn_join_exact rewrite: the query side is the
    "rank-mrr-eval",       # broadcast side BY CONTRACT — ANN batches are
    "rank-ndcg-eval",      # thousands of rows, the corpus is the 100 TB side;
    # the nested-loop product replaces the former posexplode ⋈ pos-join ⋈
    # groupBy pair of exchanges and computes the same |corpus|×|queries|
    # dot folds; recall-eval's exact side is that knn_join_exact)
    "dedup-threshold-curve",  # 4-row τ fan-out broadcast over the collapsed pair set
    "mixture-epoch-schedule",  # 1-row corpus-total + weight-normalizer broadcasts
    "simsearch-hamming-topk",  # 1-row broadcast query signature (like simsearch-topk)
    "simsearch-hamming-recall",  # 8-row broadcast query-signature batch
    "subquery-scalar",  # scalar subquery == 1-row broadcast
    "subquery-correlated",
    "tpch-q11",  # 1-row global-total broadcast
    "tpch-q15",  # 1-row max-revenue broadcast
    "tpch-q22",  # 1-row avg-balance broadcast
    "corpus-length-quantiles",
    "text-tfidf",  # 1-row corpus-count broadcast
    "text-bm25",  # 1-row (N, avgdl) corpus broadcast
    "events-downsample-lttb",  # 1-row (min, span) bounds broadcast
    "join-bloom-prune",  # 1-row broadcast Bloom bitmap (the point of the operator)
    "graph-pagerank",  # 1-row broadcast node count N
    "mixture-token-weighted",  # 1-row min-total broadcast
    "mixture-sqrt-temperature",  # 1-row normalizing-sum broadcast
    "sample-stratified",  # 1-row target broadcast
    "corpus-token-budget",
    "cluster-kmeans",  # per-round 1-row broadcasts
    "sketch-heavy-hitters",  # 1-row (kth-count, total) bounds broadcast
    "sketch-bloom-fpp",  # 1-row build/probe/fp-count summary broadcasts
    "events-benford-check",  # 1-row positive-count total broadcast
    "events-changepoint-cusum",  # 1-row global-mean broadcast
    "events-anomaly-seasonal",  # 1-row residual-MAD broadcast
    "events-markov-entropy-rate",  # 1-row transition-total broadcast
    "events-changepoint-binseg",  # 1-row level-0-split broadcast
    "split-temporal-leakage",  # 1-row user-summary broadcast
    "text-kneser-ney-lm",  # 1-row distinct-bigram-total broadcast
    "text-log-odds-terms",  # 1-row corpus-totals broadcast
    "events-causal-impact",  # 1-row fitted-model broadcast
    "lineitem-abc-xyz",  # 1-row total-revenue broadcast
    "events-psi-drift",  # two 1-row week-total broadcasts
    "agg-bootstrap-ci",  # 1-row point-estimate × ci-bound broadcasts
    "text-naive-bayes",  # |classes|-row broadcast (the scoring fan-out)
    "sketch-hll-merge",  # 1-row merged-sketch × 1-row direct-sketch join
    "sketch-hll-overlap",  # 1-row sketch estimates × 1-row exact overlap
    "scan-csv-malformed",  # 1-row permissive-counts × 1-row dropmalformed-counts
    "scan-json-malformed",  # same 1-row × 1-row shape, JSON sibling
    "rank-similarity-join",  # users × broadcast 5-row type set (dense grid build)
    "events-trajectory-topk",  # users × broadcast 24-row hour grid
    "events-haar-wavelet",  # users × broadcast 16-slot grid build
    "embedding-assign",
    "text-quality-score",
    "pipeline-compose",
    "corpus-curate-e2e",
    "range-join",  # declared range/theta join
    "asof-join",
    "tpch-q7",  # 2-row × 2-row nation-pair product (constant dimension cross)
    "simsearch-pq-adc",  # 16-row broadcast codebook + 1-row broadcast query
    "events-theil-sen-trend",  # |days|² pair join over the DAILY AGGREGATE
    # (calendar-bounded) + 1-row slope/median broadcasts
    "multimodal-phash-pairs",  # 696-row broadcast XOR-mask fan-out over the
    # ≤2¹⁶-row collapsed signature table
}

# keys whose partition-less Window runs over a DECLARED-BOUNDED input
# (collapsed aggregate, top-k shortlist, calendar grid — row counts
# independent of corpus size, SCALING.md "Global windows" invariant).
# Populated from the audited plans; any NEW global window fails the
# audit until it is argued bounded and added here.
GLOBAL_WINDOW_OK: set[str] = set()


def _load_global_window_ok() -> set[str]:
    """The allowlist lives in scripts/global_windows_ok.txt (one key per
    line, '#' comments) so the audit diff shows allowlist edits."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "global_windows_ok.txt")
    keys = set()
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                line = line.split("#", 1)[0].strip()
                if line:
                    keys.add(line)
    return keys


def _top_level_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan line (bracket-depth scan)."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]" and depth > 0:
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


_WINDOW_LINE_RE = re.compile(r"^[\s:+\-*()0-9]*Window\s+\[")


def count_global_windows(plan: str) -> int:
    """Window operators with only (exprs, order) groups — no partition
    spec group — in the executed-plan text."""
    n = 0
    for line in plan.splitlines():
        if _WINDOW_LINE_RE.match(line):
            body = line[line.index("Window") + len("Window") :]
            if len(_top_level_groups(body)) < 3:
                n += 1
    return n


# streaming keys execute on build (memory-sink round trip) — planned
# against the batch twin's semantics elsewhere; skip plan text checks.
SKIP = {k for k in entrymod.queries() if k.startswith("events-streaming")}
SKIP.add("events-stateful-profiles")
SKIP.add("events-stateful-profiles-tws")


def source_digest() -> str:
    """sha256 over every operator/source module the audit covers.

    Printed into PLAN_AUDIT.md so staleness is structurally detectable:
    `tests/test_scale.py::test_plan_audit_fresh` recomputes this digest
    and fails if any module changed after the committed audit was
    generated (round-4 verdict item 1 — the snapshot that shipped a
    post-audit rewrite can't happen silently again).
    """
    import hashlib

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for dirpath, _dirnames, filenames in os.walk(
        os.path.join(root, "pandasqlite_spark")
    ):
        for fn in filenames:
            if fn.endswith(".py"):
                paths.append(os.path.join(dirpath, fn))
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    queries = entrymod.queries()
    global_ok = GLOBAL_WINDOW_OK | _load_global_window_ok()
    rows, violations = [], []
    for key in sorted(queries):
        if key in SKIP:
            continue
        try:
            df = queries[key](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover
            violations.append((key, f"plan build failed: {exc}"))
            continue
        n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        nested = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
        # BatchEvalPythonUDTF is the *declared* lateral table-function
        # surface (bounded fan-out, documented non-hot-path); a bare
        # BatchEvalPython scalar stage is row-at-a-time Python and
        # always flags
        row_py = re.search(r"BatchEvalPython(?!UDTF)", plan) is not None
        udtf_py = "BatchEvalPythonUDTF" in plan
        n_gwin = count_global_windows(plan)
        flags = []
        if nested and key not in NESTED_LOOP_OK:
            flags.append("UNDECLARED-NESTED-LOOP")
        if row_py:
            flags.append("ROW-PYTHON")
        if udtf_py and key not in UDTF_OK:
            flags.append("UNDECLARED-UDTF")
        if n_gwin and key not in global_ok:
            flags.append("UNDECLARED-GLOBAL-WINDOW")
        if flags:
            violations.append((key, ",".join(flags)))
        rows.append(
            (
                key,
                n_ex,
                "y" if "BroadcastHashJoin" in plan else "",
                "y" if "SortMergeJoin" in plan else "",
                "nl" if nested else "",
                n_gwin or "",
                ",".join(flags),
            )
        )
    print("# PLAN AUDIT — executed-plan shapes per key (sf0.01)\n")
    print("Generated by `scripts/plan_audit.py`; flags fail the audit.\n")
    print(f"Source digest: `{source_digest()}`\n")
    skipped = sorted(SKIP & set(queries))
    print(
        f"Skipped by design ({len(skipped)} streaming keys — they execute "
        "on build via a memory-sink round trip, so the executed plan text "
        "is the drain harness, not the operator; their batch twins are "
        "audited above under the same key stem):\n"
    )
    for k in skipped:
        print(f"- `{k}`")
    print()
    print("| key | exchanges | bcast join | smj | nested-loop | global-win | flags |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print("| {} | {} | {} | {} | {} | {} | {} |".format(*r))
    print(f"\n{len(rows)} keys audited; {len(violations)} violations.")
    for key, flag in violations:
        print(f"- VIOLATION {key}: {flag}")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
