"""Property tests for the Count-Min sketch, embedding dimension stats,
Matryoshka recall, and the referential profile."""

from __future__ import annotations

import datetime as dt

from pandasqlite_spark.functions.sketches import countmin_estimates
from pandasqlite_spark.functions.similarity import (
    embedding_dim_stats,
    matryoshka_recall,
)
from pandasqlite_spark.functions.analytics import referential_profile

SF_DIR = "/root/testdata/sf0.001"


def _events(spark, user_counts):
    t = dt.datetime(2024, 1, 1)
    rows = []
    for uid, n in user_counts.items():
        rows += [(int(uid), t)] * n
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp")


def test_countmin_never_underestimates(spark):
    # 200 keys hash into 3×64 counters: collisions are certain, so some
    # overcount must be positive — but NONE may be negative (the CMS
    # one-sided error guarantee).
    ev = _events(spark, {uid: 1 + uid % 5 for uid in range(200)})
    out = countmin_estimates(ev).collect()
    assert len(out) == 200
    assert all(r.overcount >= 0 for r in out)
    assert any(r.overcount > 0 for r in out)
    assert all(r.cms_est == r.true_cnt + r.overcount for r in out)


def test_countmin_exact_when_no_collisions(spark):
    # 2 keys in 192 counters: w.h.p. no collisions in any row → exact.
    ev = _events(spark, {1: 7, 2: 3})
    out = {r.user_id: r for r in countmin_estimates(ev).collect()}
    assert out[1].cms_est == 7 and out[2].cms_est == 3


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


def test_dim_stats_flags_collapsed_dimension(spark):
    # dim 0 is constant (variance 0 → low_var); dim 1 alternates ±1.
    vecs = [[0.5, 1.0], [0.5, -1.0], [0.5, 1.0], [0.5, -1.0]]
    out = {r.dim: r for r in embedding_dim_stats(_emb(spark, vecs)).collect()}
    assert out[0].variance == 0.0 and out[0].low_var
    assert out[1].variance == 1.0 and not out[1].low_var
    assert out[0].mean_x == 0.5 and out[1].mean_x == 0.0


def test_matryoshka_perfect_recall_when_tail_dims_are_zero(spark):
    # All information lives in the first 16 dims → truncation changes
    # nothing → recall@5 = 1.0 for every query.
    import random

    rng = random.Random(7)
    vecs = []
    for _ in range(20):
        v = [rng.uniform(-1, 1) for _ in range(16)] + [0.0] * 48
        vecs.append(v)
    out = matryoshka_recall(_emb(spark, vecs)).collect()
    assert len(out) == 8
    assert all(r.recall_at_5 == 1.0 for r in out)


def test_referential_profile_tpch_keys_intact(spark):
    out = {r.relationship: r for r in referential_profile(spark, SF_DIR).collect()}
    assert len(out) == 7
    # every TPC-H FK must be clean in the generated data
    for rel, r in out.items():
        assert r.n_orphans == 0 and r.intact, rel
        assert r.n_child > 0


def test_triplet_mining_picks_hard_negative(spark):
    from pandasqlite_spark.functions.similarity import triplet_mine

    # anchor 0 (label 0): vec 16 same-label near, vec 17 diff-label
    # nearer than vec 18 — the HARD negative must be 17.
    def v(*xs):
        return [float(x) for x in xs] + [0.0] * 60
    vecs = [
        (0, 0, v(1, 0, 0, 0)),
        (16, 0, v(0.9, 0.1, 0, 0)),   # positive
        (17, 1, v(0.8, 0.2, 0, 0)),   # hard negative
        (18, 1, v(0, 1, 0, 0)),       # easy negative
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id bigint, label int, embedding array<float>"
    )
    out = triplet_mine(emb, n_anchors=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.pos_id == 16 and r.neg_id == 17 and r.margin > 0


def test_markov_accuracy_perfect_on_deterministic_chain(spark):
    import datetime as dt

    from pandasqlite_spark.functions.analytics import markov_accuracy

    # one user cycles view→click→view→click... across all four weeks:
    # the argmax model predicts perfectly on week 4.
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(28 * 4):
        rows.append(
            (1, i, t0 + dt.timedelta(hours=6 * i), "view" if i % 2 == 0 else "click")
        )
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )
    out = {r.from_type: r for r in markov_accuracy(ev).collect()}
    assert out["view"].accuracy == 1.0 and out["click"].accuracy == 1.0


def test_centroid_accuracy_separable_labels(spark):
    from pandasqlite_spark.functions.similarity import centroid_accuracy

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * 60

    # two cleanly separated label clusters → 100% accuracy
    vecs = [
        (0, 0, v(1, 0.1, 0, 0)), (1, 0, v(0.9, 0, 0, 0)), (2, 0, v(1, 0, 0.1, 0)),
        (3, 1, v(0, 1, 0, 0.1)), (4, 1, v(0.1, 0.9, 0, 0)), (5, 1, v(0, 1, 0.1, 0)),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id bigint, label int, embedding array<float>"
    )
    out = {r.label: r for r in centroid_accuracy(emb).collect()}
    assert out[0].accuracy == 1.0 and out[1].accuracy == 1.0
    assert out[0].n_vecs == 3 and out[1].n_vecs == 3


def test_ann_sizing_rules():
    """Derived ANN index constants (round-5 verdict #7): cells ≈ √N
    rounded up to a power of two, nprobe = smallest level meeting the
    recall target, PQ codebook sized by training points/centroid."""
    from pandasqlite_spark.functions.similarity import (
        derive_ivf_cells,
        derive_nprobe,
        derive_pq_k,
    )

    # cells: smallest power of two with cells² ≥ N, floored at 4
    assert derive_ivf_cells(0) == 4
    assert derive_ivf_cells(16) == 4
    assert derive_ivf_cells(17) == 8
    assert derive_ivf_cells(492) == 32     # sf0.001/sf0.01 corpus
    assert derive_ivf_cells(1992) == 64    # sf0.1
    assert derive_ivf_cells(19_992) == 256   # sf1 (√N=141 → next pow2)
    assert derive_ivf_cells(199_992) == 512  # sf10
    assert derive_ivf_cells(10**13) == 1 << 20  # hi cap holds

    # nprobe: smallest measured level meeting target, else deepest
    assert derive_nprobe([(1, 0.4), (2, 0.85), (4, 0.95)], 0.8) == 2
    assert derive_nprobe([(4, 0.95), (1, 0.9)], 0.8) == 1  # order-free
    assert derive_nprobe([(1, 0.2), (2, 0.5), (4, 0.7)], 0.8) == 4

    # PQ k: ≥39 training points per centroid, power of two in [16,256]
    assert derive_pq_k(0) == 16
    assert derive_pq_k(39 * 32) == 32
    assert derive_pq_k(39 * 64 - 1) == 32
    assert derive_pq_k(10**9) == 256  # byte-code cap


def test_ivf_derived_key_consistent(spark, sf_dir):
    """simsearch-ivf-derived emits one row per probed level with the
    derived cell count and exactly one chosen level."""
    from pandasqlite_spark.functions.similarity import (
        NPROBE_LEVELS,
        derive_ivf_cells,
        q_simsearch_ivf_derived,
    )
    from pandasqlite_spark.operators.common import load

    rows = q_simsearch_ivf_derived(spark, sf_dir).collect()
    assert [r["nprobe"] for r in rows] == sorted(NPROBE_LEVELS)
    n = load(spark, sf_dir, "embeddings").filter("vec_id != 0").count()
    assert all(r["n_cells"] == derive_ivf_cells(n) for r in rows)
    assert sum(1 for r in rows if r["chosen"]) == 1
    # recall is monotone non-decreasing in nprobe
    recalls = [r["recall_at_10"] for r in rows]
    assert recalls == sorted(recalls)


# ---------------------------------------------------------------------------
# The BIGINT JVM folds the ANN kernels replaced (IVF assignment, PQ ADC
# encode, PQ exact rerank) live HERE as bit-identity references for the
# engine's one Arrow/numpy implementation of each.
# ---------------------------------------------------------------------------


def _ref_ivf_assign(emb, centroids, id_col="vec_id"):
    """Row-wise scaled-long ``zip_with``/``aggregate`` dot against a
    1-row broadcast of every centroid, then an explicit (dot DESC,
    cid ASC) argmax fold.  Null terms (null elements, positions past
    the shorter vector) are filtered before summing, like SQL SUM."""
    from pyspark.sql import functions as F

    from pandasqlite_spark.functions.similarity import (
        _SCALED_LONG,
        _collect_scaled_centroids,
    )

    crows = _collect_scaled_centroids(centroids)
    if not crows:
        return emb.select(F.col(id_col)).limit(0).select(
            F.col(id_col), F.lit(None).cast("int").alias("cell")
        )
    cents = emb.sparkSession.createDataFrame(
        [([(int(r["cid"]), r["cs"]) for r in crows],)],
        "cents: array<struct<cid:int,cs:array<bigint>>>",
    )
    scored = (
        emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .crossJoin(F.broadcast(cents))
        .select(
            id_col,
            F.expr(_SCALED_LONG.format(col="embedding")).alias("xl"),
            "cents",
        )
    )
    best = F.expr(
        "aggregate("
        " transform(cents, c -> struct("
        "   aggregate(filter(zip_with(xl, c.cs, (a, b) -> a * b),"
        "                    p -> p IS NOT NULL),"
        "             CAST(0 AS BIGINT), (s, v) -> s + v) AS dot,"
        "   c.cid AS cid)),"
        " struct(CAST(-9223372036854775808 AS BIGINT) AS dot,"
        "        CAST(2147483647 AS INT) AS cid),"
        " (acc, s) -> CASE WHEN s.dot > acc.dot"
        "                    OR (s.dot = acc.dot AND s.cid < acc.cid)"
        "             THEN s ELSE acc END)"
    )
    return scored.select(id_col, best.getField("cid").alias("cell"))


def _ref_pq_adc_scores(emb):
    """PQ encode + ADC sum as a BIGINT fold: one squared-diff zip per
    (vector, codebook entry) row, PQ_M slice folds, and a
    ``min(struct(dv·PQ_K+cid, dq))`` groupBy argmin per subspace."""
    from pyspark.sql import functions as F

    from pandasqlite_spark.functions.similarity import (
        PQ_DSUB,
        PQ_K,
        PQ_M,
        PQ_QUERY_ID,
        _pq_scaled,
    )

    def _pq_sub_dist(a, b, m):
        # squared L2 over the m-th PQ_DSUB-wide slice, a BIGINT fold
        lo = m * PQ_DSUB + 1
        sq = F.zip_with(
            F.slice(a, lo, PQ_DSUB),
            F.slice(b, lo, PQ_DSUB),
            lambda x, y: (x - y) * (x - y),
        )
        return F.aggregate(sq, F.lit(0).cast("bigint"), lambda acc, v: acc + v)

    scaled = _pq_scaled(emb)
    codebook = scaled.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("arr").alias("carr")
    )
    qrow = scaled.filter(F.col("vec_id") == PQ_QUERY_ID).select(
        F.col("arr").alias("qarr")
    )
    cb_adc = codebook.crossJoin(F.broadcast(qrow)).select(
        "cid",
        "carr",
        *[_pq_sub_dist("qarr", "carr", m).alias(f"dq{m}") for m in range(PQ_M)],
    )
    sq = F.zip_with("arr", "carr", lambda x, y: (x - y) * (x - y))
    joined = scaled.crossJoin(F.broadcast(cb_adc)).withColumn("sq", sq)

    def slice_sum(m):
        return F.aggregate(
            F.slice("sq", m * PQ_DSUB + 1, PQ_DSUB),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    per_m = joined.select(
        "vec_id",
        *[
            F.struct(
                (slice_sum(m) * PQ_K + F.col("cid")).alias("k"),
                F.col(f"dq{m}").alias("dq"),
            ).alias(f"s{m}")
            for m in range(PQ_M)
        ],
    )
    enc = per_m.groupBy("vec_id").agg(
        *[F.min(f"s{m}").getField("dq").alias(f"t{m}") for m in range(PQ_M)]
    )
    adc = F.col("t0")
    for m in range(1, PQ_M):
        adc = adc + F.col(f"t{m}")
    return enc.select("vec_id", adc.alias("adc_dist"))


def _ref_pq_topk(emb):
    """pq_topk over the reference ADC table, with the exact rerank as
    an unfiltered BIGINT ``zip_with``/``aggregate`` fold against the
    broadcast query row."""
    from pyspark.sql import functions as F

    from pandasqlite_spark.functions.similarity import (
        PQ_CAND,
        PQ_QUERY_ID,
        PQ_TOPK,
        _pq_scaled,
    )

    scaled = _pq_scaled(emb)
    qrow = scaled.filter(F.col("vec_id") == PQ_QUERY_ID).select(
        F.col("arr").alias("qarr")
    )
    cand = _ref_pq_adc_scores(emb).orderBy("adc_dist", "vec_id").limit(PQ_CAND)
    exact = (
        scaled.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            "adc_dist",
            F.aggregate(
                F.zip_with("arr", "qarr", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("exact_dist"),
        )
    )
    return exact.orderBy("exact_dist", "vec_id").limit(PQ_TOPK)


def _vec_frame(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_ivf_assign_arrow_and_jvm_paths_identical(spark):
    """ivf_assign's Arrow float64 GEMM must produce IDENTICAL
    assignments to the JVM-fold reference: both run the same
    scaled-long exact dot (DECIMAL(8,6)*10^6 coordinates, |dot| < 2^53)
    with the same (dot DESC, cid ASC) tie-break and ``zip_with`` null
    semantics — a null element or a position past the shorter vector
    is a skipped term.  Covers null / empty / all-null / short / long
    vectors on the scan AND the centroid side, at a small and a large
    cell count, plus real data."""
    import random

    from pyspark.sql import functions as F

    import pandasqlite_spark.functions.similarity as sim
    from pandasqlite_spark.operators.common import load

    def check(emb, cents):
        eng = {r.vec_id: r.cell for r in sim.ivf_assign(emb, cents).collect()}
        ref = {r.vec_id: r.cell for r in _ref_ivf_assign(emb, cents).collect()}
        assert eng == ref
        return eng

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    assert len(check(emb, cents)) == emb.count()

    rng = random.Random(5)

    def mkvec(n=64):
        return [round(rng.uniform(-1, 1), 4) for _ in range(n)]

    rows = [(i, mkvec()) for i in range(60)]
    # centroid-side edges (cids < 40): short, null element, null array,
    # empty, all-null elements (dot 0 with every row), long
    v = mkvec()
    v[0] = None
    v[63] = None
    rows[2] = (2, mkvec(5))
    rows[3] = (3, v)
    rows[4] = (4, None)
    rows[5] = (5, [])
    rows[7] = (7, [None] * 64)
    rows[30] = (30, mkvec(70))
    # scan-side edges: null array, null elements, short, long,
    # all-null elements (every dot 0 → smallest cid)
    v = mkvec()
    v[1] = None
    v[62] = None
    rows[50] = (50, None)
    rows[51] = (51, v)
    rows[52] = (52, mkvec(5))
    rows[53] = (53, mkvec(66))
    rows[54] = (54, [None] * 64)
    edge = _vec_frame(spark, rows)
    for pred in (
        F.col("vec_id") < 8,
        (F.col("vec_id") < 40) & (F.col("vec_id") != 30),
        F.col("vec_id") < 40,
    ):
        cents = edge.filter(pred).select(
            F.col("vec_id").cast("int").alias("cid"), "embedding"
        )
        got = check(edge, cents)
        assert len(got) == 57  # null / empty arrays (4, 5, 50) drop
        assert got[54] == 0
    # only null / empty centroids → zero assignments
    cents = edge.filter(F.col("vec_id").isin(4, 5)).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    assert check(edge, cents) == {}


def test_pq_adc_arrow_and_jvm_paths_identical(spark):
    """The PQ ADC encode — a NaN-aware numpy kernel over Arrow batches
    — must produce the IDENTICAL (vec_id, adc_dist) table as the JVM
    HOF-fold reference (zip_with/slice/aggregate per (vector, centroid)
    row), including every null-contract edge: null array (whole zip →
    null), empty array (null vs a non-empty side, 0 where the slice is
    empty), null ELEMENT (null term → null subspace sum), ragged
    lengths (zip_with pads the shorter side with null; positions beyond
    max(len) do not exist), and Spark's null-struct-field-sorts-FIRST
    min(struct) rule.  Covers edges on the scan side, in the codebook
    (vec_id < PQ_K), and in the query row (PQ_QUERY_ID)."""
    import random

    from pandasqlite_spark.functions.similarity import pq_adc_scores, pq_topk

    rng = random.Random(7)

    def mkvec(n=64):
        return [round(rng.uniform(-1, 1), 4) for _ in range(n)]

    def both(rows):
        emb = _vec_frame(spark, rows)
        a = {r.vec_id: r.adc_dist for r in pq_adc_scores(emb).collect()}
        j = {r.vec_id: r.adc_dist for r in _ref_pq_adc_scores(emb).collect()}
        return a, j

    base = [(i, mkvec()) for i in range(60)]

    # edges everywhere at once: codebook (null / empty / short), scan
    # (null / empty / long / null elements at both ends), clean query
    rows = list(base)
    rows[3] = (3, None)
    rows[4] = (4, [])
    rows[7] = (7, mkvec(5))
    rows[30] = (30, None)
    rows[31] = (31, [])
    rows[33] = (33, mkvec(66))
    v = mkvec()
    v[0] = None
    v[63] = None
    rows[34] = (34, v)
    a, j = both(rows)
    assert a == j and len(a) == 60
    assert a[30] is None and a[31] is None  # null/empty scan → null adc

    # query-side edges: null, empty, short, a null element, wider than
    # 64 — the driver-side ADC table must match the fold's
    qnull = mkvec()
    qnull[10] = None
    for qcase in (None, [], mkvec(20), qnull, mkvec(70)):
        rows2 = list(base)
        rows2[42] = (42, qcase)
        a, j = both(rows2)
        assert a == j and len(a) == 60

    # no query row / no codebook → both yield zero rows
    a, j = both([(i, mkvec()) for i in range(40)])
    assert a == j == {}
    a, j = both([(i + 100, mkvec()) for i in range(30)] + [(42, mkvec())])
    assert a == j == {}

    # real data: full-corpus score table and the final top-k agree
    from pandasqlite_spark.operators.common import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = {r.vec_id: r.adc_dist for r in pq_adc_scores(emb).collect()}
    j = {r.vec_id: r.adc_dist for r in _ref_pq_adc_scores(emb).collect()}
    assert a == j and len(a) == emb.count()
    new_top = [tuple(r) for r in pq_topk(emb).collect()]
    assert new_top == [tuple(r) for r in _ref_pq_topk(emb).collect()]


def test_pq_exact_rerank_arrow_and_jvm_paths_identical(spark):
    """The full ``pq_topk`` output — Arrow ADC encode plus the
    ``_pq_exact_arrow`` numpy rerank — must equal the all-JVM-fold
    reference, including every fold edge: null candidate array (→ null
    exact_dist), empty array vs a 64-dim query (pad → null), ragged
    lengths on either side, null ELEMENT inside the zipped range
    (→ null), query row null / empty / short / MISSING (missing → zero
    output rows, the empty-broadcast crossJoin contract), and
    two-empty-arrays → fold init 0."""
    import random

    import pandasqlite_spark.functions.similarity as sim

    rng = random.Random(11)

    def mkvec(n=64):
        return [round(rng.uniform(-1, 1), 4) for _ in range(n)]

    def both(rows):
        emb = _vec_frame(spark, rows)
        a = [tuple(r) for r in sim.pq_topk(emb).collect()]
        j = [tuple(r) for r in _ref_pq_topk(emb).collect()]
        return a, j

    base = [(i, mkvec()) for i in range(60)]

    # candidate-side edges: null / empty / short / long / null elements
    rows = list(base)
    rows[20] = (20, None)
    rows[21] = (21, [])
    rows[22] = (22, mkvec(5))
    rows[23] = (23, mkvec(70))
    v = mkvec()
    v[0] = None
    v[63] = None
    rows[24] = (24, v)
    a, j = both(rows)
    assert a == j and len(a) > 0

    # query-side edges: null, empty, short, a null element, wider than
    # 64 — and empty scan arr vs each
    qnull = mkvec()
    qnull[10] = None
    for qcase in (None, [], mkvec(20), qnull, mkvec(70)):
        rows2 = list(base)
        rows2[42] = (42, qcase)
        rows2[25] = (25, [])
        a, j = both(rows2)
        assert a == j

    # missing query row → zero output rows on both
    a, j = both([(i, mkvec()) for i in range(40)])
    assert a == j == []

    # real data
    from pandasqlite_spark.operators.common import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = [tuple(r) for r in sim.pq_topk(emb).collect()]
    j = [tuple(r) for r in _ref_pq_topk(emb).collect()]
    assert a == j and len(a) > 0


def test_vector_length_guard_raises(spark):
    """Below the 2^22 element bound a squared difference is at most
    2^46, so 128 terms sum to at most 2^53 — the last width at which
    every float64 partial sum is an exact integer.  A 129-element
    vector at the bound must fail loudly: in the guard itself, as a
    PQ query, and as an IVF centroid."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    import pandasqlite_spark.functions.similarity as sim

    top = float(1 << 22)
    sim._check_scaled_bound(np.full((3, 128), top), "128 ok")
    with pytest.raises(ValueError, match="exactness"):
        sim._check_scaled_bound(np.full(129, top), "129 terms")
    with pytest.raises(ValueError, match="exactness"):
        sim._check_scaled_bound(np.full((2, 129), top), "129 terms")

    # 4194.304 scales to 2^22 on the PQ grid (×1000)
    rows = [(i, [0.5] * 64) for i in range(50)]
    rows[sim.PQ_QUERY_ID] = (sim.PQ_QUERY_ID, [4194.304] * 129)
    with pytest.raises(ValueError, match="129 terms"):
        sim.pq_topk(_vec_frame(spark, rows))

    # 4.194304 scales to 2^22 on the IVF grid (DECIMAL(8,6)·10⁶)
    emb = _vec_frame(spark, [(0, [4.194304] * 129), (1, [0.5] * 64)])
    cents = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    with pytest.raises(ValueError, match="129 terms"):
        sim.ivf_assign(emb, cents).collect()


def test_scaled_bound_guard_raises():
    """The float64-exactness envelope (|scaled coordinate| ≤ 2^22 ⇒
    every kernel sum < 2^53) fails LOUDLY if the value domain widens —
    round-8 advice: DECIMAL(8,6) nominally admits 99.999999 (scaled
    1e8), which would silently break bit-exactness without this."""
    import numpy as np
    import pytest

    from pandasqlite_spark.functions.similarity import (
        _SCALED_ABS_MAX,
        _check_scaled_bound,
    )

    _check_scaled_bound(np.array([0.0, -_SCALED_ABS_MAX, 1.0]), "ok")
    _check_scaled_bound(np.array([]), "empty ok")
    with pytest.raises(ValueError, match="exactness"):
        _check_scaled_bound(np.array([1.0, float(_SCALED_ABS_MAX + 1)]), "bad")
    with pytest.raises(ValueError, match="exactness"):
        _check_scaled_bound(np.array([-float(1 << 30)]), "bad neg")


def test_nprobe_perturbed_slice_is_discriminative(spark):
    """Round-8 verdict #3: the replicated corpora make the plain
    recall curve degenerate (recall@10 = 1.0 at nprobe = 1, nothing to
    tune).  The perturbed slice must (a) leave recall@10 BELOW 1.0 at
    nprobe = 1 so the curve carries information, (b) stay deterministic
    (pure integer hash — two runs bit-equal), and (c) keep the
    perturbation inside the scaled-long exactness envelope."""
    import numpy as np

    from pandasqlite_spark.functions.similarity import (
        _SCALED_ABS_MAX,
        PERT_P,
        derive_nprobe,
        perturb_embeddings,
        q_simsearch_nprobe_perturbed,
    )
    from pandasqlite_spark.operators.common import load

    sf = "/root/testdata/sf0.01"
    rows = q_simsearch_nprobe_perturbed(spark, sf).collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    by_np = {r["nprobe"]: r for r in rows}
    assert by_np[1]["recall_at_10"] < 1.0  # (a) the curve discriminates
    curve = [(r["nprobe"], r["recall_at_10"]) for r in rows]
    chosen = derive_nprobe(curve)
    assert chosen == next(r["nprobe"] for r in rows if r["chosen"])
    # monotone in nprobe: probing more cells never loses recall
    assert (
        by_np[1]["recall_at_10"]
        <= by_np[2]["recall_at_10"]
        <= by_np[4]["recall_at_10"]
    )
    # (b) deterministic across runs
    assert rows == q_simsearch_nprobe_perturbed(spark, sf).collect()
    # (c) perturbed coordinates stay inside the float64-exactness bound
    emb = perturb_embeddings(load(spark, sf, "embeddings"))
    mx = emb.selectExpr(
        "max(aggregate(transform(embedding, v -> abs(v)), 0D, (a, v) -> greatest(a, v))) AS m"
    ).collect()[0]["m"]
    assert mx * 1_000_000 <= _SCALED_ABS_MAX, mx
    assert PERT_P * 2 < _SCALED_ABS_MAX


# ---------------------------------------------------------------------------
# Round-9 fold rewrite of the explode-based cosine reductions: the old
# posexplode ⋈ SUM formulations live HERE as the bit-identity reference
# (the test_ivf_assign_arrow_and_jvm_paths_identical pattern).
# ---------------------------------------------------------------------------


def _ref_cosine_topk_exact(emb, query, k=10, id_col="vec_id"):
    """Pre-round-9 cosine_topk_exact: posexplode + scaled-long SUM."""
    from pyspark.sql import functions as F

    e = emb.select(id_col, F.posexplode("embedding").alias("pos", "x")).select(
        id_col,
        "pos",
        (F.col("x").cast("double").cast("decimal(8,6)") * 1000000)
        .cast("bigint")
        .alias("x"),
    )
    q = query.select(F.posexplode("qv").alias("pos", "qx")).select(
        "pos",
        (F.col("qx").cast("double").cast("decimal(8,6)") * 1000000)
        .cast("bigint")
        .alias("qx"),
    )

    def as_dbl(c):
        return c.cast("double") / F.lit(1e12)

    nq = q.agg(as_dbl(F.sum(F.col("qx") * F.col("qx"))).alias("nq"))
    per_vec = (
        e.join(F.broadcast(q), "pos")
        .groupBy(id_col)
        .agg(
            as_dbl(F.sum(F.col("x") * F.col("qx"))).alias("dot"),
            as_dbl(F.sum(F.col("x") * F.col("x"))).alias("ne"),
        )
    )
    cos = F.col("dot") / (F.sqrt("ne") * F.sqrt("nq"))
    return (
        per_vec.crossJoin(F.broadcast(nq))
        .select(id_col, cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def _ref_knn_join_exact(emb, queries, k=5, id_col="vec_id", qid_col="query_id"):
    """Pre-round-9 knn_join_exact: posexplode + pos-join + groupBy."""
    from pyspark.sql import Window, functions as F

    e = emb.select(id_col, F.posexplode("embedding").alias("pos", "x")).select(
        id_col,
        "pos",
        (F.col("x").cast("double").cast("decimal(8,6)") * 1000000)
        .cast("bigint")
        .alias("x"),
    )
    q = queries.select(qid_col, F.posexplode("qv").alias("pos", "qx")).select(
        qid_col,
        "pos",
        (F.col("qx").cast("double").cast("decimal(8,6)") * 1000000)
        .cast("bigint")
        .alias("qx"),
    )
    ne = e.groupBy(id_col).agg(
        (F.sum(F.col("x") * F.col("x")).cast("double") / F.lit(1e12)).alias("ne")
    )
    nq = q.groupBy(qid_col).agg(
        (F.sum(F.col("qx") * F.col("qx")).cast("double") / F.lit(1e12)).alias("nq")
    )
    dots = (
        e.join(F.broadcast(q), "pos")
        .groupBy(qid_col, id_col)
        .agg((F.sum(F.col("x") * F.col("qx")).cast("double") / F.lit(1e12)).alias("dot"))
    )
    scored = (
        dots.join(ne, id_col)
        .join(F.broadcast(nq), qid_col)
        .select(
            qid_col,
            id_col,
            (F.col("dot") / (F.sqrt("ne") * F.sqrt("nq"))).alias("cosine"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "cosine")
    )


def _ref_ivf_candidate_cosine(corpus, queries, cand):
    """Pre-round-9 ivf_candidate_cosine: decimal posexplode + SUM."""
    from pyspark.sql import functions as F

    cand_vecs = corpus.join(
        F.broadcast(cand.select("vec_id").distinct()), "vec_id", "left_semi"
    )
    e = cand_vecs.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", "pos", F.col("x").cast("double").cast("decimal(8,6)").alias("x"))
    qd = queries.select("query_id", F.posexplode("qv").alias("pos", "qx")).select(
        "query_id", "pos", F.col("qx").cast("double").cast("decimal(8,6)").alias("qx")
    )
    ne = e.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).cast("double").alias("ne")
    )
    nq = qd.groupBy("query_id").agg(
        F.sum(F.col("qx") * F.col("qx")).cast("double").alias("nq")
    )
    dots = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qd), ["query_id", "pos"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("x") * F.col("qx")).cast("double").alias("dot"))
    )
    return (
        dots.join(ne, "vec_id")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "vec_id",
            (F.col("dot") / (F.sqrt("ne") * F.sqrt("nq"))).alias("cosine"),
        )
    )


def _ref_ivf_candidate_scores(corpus, queries, centroids):
    """Reference composition of IVF candidate scoring: the JVM-fold
    assignment of both sides, the same-cell (query_id, vec_id) pair
    join, then the explode cosine over those pairs."""
    from pyspark.sql import functions as F

    a_q = _ref_ivf_assign(
        queries.select(
            F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding")
        ),
        centroids,
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = a_q.join(_ref_ivf_assign(corpus, centroids), "cell").select(
        "query_id", "vec_id"
    )
    return _ref_ivf_candidate_cosine(corpus, queries, cand)


def _edge_embeddings(spark):
    """60 clean 64-dim vectors + every null-contract edge the explode
    formulations defined: null array, empty array, null element at both
    ends, ALL-null elements (non-empty) — on ids the tests key on."""
    import random

    from pyspark.sql import types as T

    rng = random.Random(13)

    def mkvec(n=64):
        return [round(rng.uniform(-1, 1), 4) for _ in range(n)]

    rows = [(i, mkvec()) for i in range(60)]
    rows[3] = (3, None)
    rows[4] = (4, [])
    v = mkvec()
    v[0] = None
    v[63] = None
    rows[5] = (5, v)
    rows[6] = (6, [None] * 64)  # all-null → NULL norm → NULL cosine
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_cosine_fold_matches_explode_reference(spark):
    """The round-9 row-local scaled-long folds must be BIT-IDENTICAL to
    the explode ⋈ SUM formulations they replaced — values AND row sets,
    on real data and on every null edge (null/empty arrays drop the
    row; null elements drop the term; all-null vectors surface a NULL
    cosine; null/empty QUERY vectors drop the query).  The fused IVF
    candidate scoring matches the reference assignment ⋈ same-cell
    pairs ⋈ explode cosine composition on the same inputs, plus ragged
    widths and all-zero vectors (zero divisor → NULL cosine)."""
    import random

    from pyspark.sql import functions as F

    from pandasqlite_spark.functions.similarity import (
        N_CELLS,
        cosine_topk_exact,
        ivf_candidate_scores,
        knn_join_exact,
    )
    from pandasqlite_spark.operators.common import load

    def rows_of(df):
        return sorted(
            tuple(r) for r in df.collect()
        )

    def check_ivf(emb, queries, corpus):
        cents = emb.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").cast("int").alias("cid"), "embedding"
        )
        got = rows_of(ivf_candidate_scores(corpus, queries, cents))
        assert got == rows_of(_ref_ivf_candidate_scores(corpus, queries, cents))
        return got

    for emb in (
        load(spark, "/root/testdata/sf0.001", "embeddings"),
        _edge_embeddings(spark),
    ):
        # single-query top-k: clean query, then each query edge
        query = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv")
        )
        corpus = emb.filter(F.col("vec_id") != 0)
        assert rows_of(cosine_topk_exact(corpus, query, k=10)) == rows_of(
            _ref_cosine_topk_exact(corpus, query, k=10)
        )
        for edge_qid in (3, 4, 6):  # null / empty / all-null-element qv
            query_e = emb.filter(F.col("vec_id") == edge_qid).select(
                F.col("embedding").alias("qv")
            )
            assert rows_of(cosine_topk_exact(corpus, query_e, k=10)) == rows_of(
                _ref_cosine_topk_exact(corpus, query_e, k=10)
            ), f"topk qv edge {edge_qid}"

        # batched knn join + candidate cosine, with the edge ids (3-6)
        # landing on the QUERY side (split at 8) and then on the CORPUS
        # side (split at 52, queries = clean tail ids)
        for qpred, cpred in (
            (F.col("vec_id") < 8, F.col("vec_id") >= 8),
            (F.col("vec_id") >= 52, F.col("vec_id") < 52),
        ):
            queries = emb.filter(qpred).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
            )
            corpus_s = emb.filter(cpred)
            assert rows_of(knn_join_exact(corpus_s, queries, k=5)) == rows_of(
                _ref_knn_join_exact(corpus_s, queries, k=5)
            )
            assert check_ivf(emb, queries, corpus_s)

    # ragged widths and zero vectors against 64-wide centroids (ids
    # < 8): the copied centroid slices steer each pair into one cell
    rng = random.Random(17)

    def mkvec(n=64):
        return [round(rng.uniform(-1, 1), 4) for _ in range(n)]

    rows = [(i, mkvec()) for i in range(60)]
    c3, c4 = rows[3][1], rows[4][1]
    rows[9] = (9, c3[:40])  # query narrower than the centroids
    rows[10] = (10, [0.0] * 64)  # all-zero query
    rows[11] = (11, c4)
    rows[20] = (20, c4 + mkvec(16))  # corpus row wider than the centroids
    rows[21] = (21, [0.0] * 64)  # all-zero corpus row
    rows[22] = (22, [None] * 40 + c3[40:])  # no term in common with 9
    emb = _vec_frame(spark, rows)
    queries = emb.filter(F.col("vec_id").between(8, 12)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    got = check_ivf(emb, queries, emb.filter(F.col("vec_id") > 12))
    assert (10, 21, None) in got  # zero divisor → NULL
    assert (9, 22, None) in got  # no common term → NULL dot
    assert any(q == 11 and v == 20 and c is not None for q, v, c in got)
