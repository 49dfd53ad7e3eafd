"""Similarity search over embedding columns (SURVEY.md §2.D).

One implementation per operation; every key here carries a full DuckDB
oracle:

- **Brute-force cosine top-k** (:func:`cosine_topk_exact`) — the
  coordinates quantize to DECIMAL(8,6)·10⁶ BIGINTs and the dot product
  and norms fold row-locally (``zip_with`` + ``aggregate``) in
  whole-stage codegen; the only cross-partition step is the final
  top-k merge (``TakeOrderedAndProject``).  Every integer sum stays
  below 2⁵³, so the result is bit-identical to the DuckDB DECIMAL
  oracle.
- **IVF and PQ ANN** — numpy kernels over Arrow batches in the Python
  workers, behind one adapter (:func:`_arrow_map`); the same
  scaled-long domain keeps every float64 intermediate an exact
  integer (:func:`_check_scaled_bound` asserts it).
- **LSH buckets** — sign projections written as codegen'd ``±x[d]``
  chains (:func:`sign_bucket`, :func:`lsh_bucket_ids`), emitted
  identically in the DuckDB oracle; bucket joins replace the
  all-pairs product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandasqlite_spark.operators.common import load, spread_scan

_DEC = "decimal(8,6)"


def cosine_topk_exact(
    emb: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Oracle-checkable variant: scaled-long row-local folds.

    Round-9 shape (guide §2.4: remove shuffles outright): coordinates
    quantize to DECIMAL(8,6)·10⁶ BIGINTs — products ≤ 2.5×10¹¹, 64-term
    sums ≤ 1.6×10¹³ < 2⁵³, so the integer fold is exact in any order
    and /1e12 is the same single rounding as the old decimal→double
    cast.  That kills the original reason this was a posexplode ⋈
    broadcast ⋈ groupBy (a decimal ``aggregate`` lambda would round a
    scale digit per step at precision 38): the dot and both norms now
    fold row-locally in whole-stage codegen, the 64×-row explode, the
    position join, and the partial-agg exchange are gone, and the only
    cross-partition step is the TakeOrdered top-k merge.  Null
    semantics pinned by the explode-reference bit-identity test: null
    ELEMENTS drop out of the folds like SQL SUM, null/empty arrays drop
    the row, all-null vectors surface a NULL cosine.

    float → double → decimal(8,6): the double hop is load-bearing —
    casting float straight to decimal goes through the float's short
    string form in Spark but the widened double in DuckDB.
    """
    c = _fold_rows(emb, id_col=id_col)
    q = (
        query.filter(F.col("qv").isNotNull() & (F.size("qv") > 0))
        .select(F.expr(_SCALED_LONG.format(col="qv")).alias("qs"))
        .select("qs", F.expr(_SUMSQ_FOLD.format(col="qs")).alias("nq"))
    )
    dot = F.expr(_DOT_FOLD.format(a="xs", b="qs"))
    cos = dot / (F.sqrt("nn") * F.sqrt("nq"))
    return (
        c.crossJoin(F.broadcast(q))
        .select(id_col, cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return cosine_topk_exact(emb.filter(F.col("vec_id") != 0), query, k=10)


# ---------------------------------------------------------------------------
# IVF (inverted-file) search: coarse cells + in-cell rerank
# ---------------------------------------------------------------------------

N_CELLS = 8


def _explode_dec(df: DataFrame, id_expr, arr: str = "embedding") -> DataFrame:
    return df.select(
        id_expr, F.posexplode(arr).alias("pos", "raw")
    ).select(id_expr, "pos", F.col("raw").cast("double").cast(_DEC).alias("x"))


# scaled-long vector: the operator value domain quantizes coordinates
# to DECIMAL(8,6) (see _DEC); ×10⁶ makes each a BIGINT ≤ 5×10⁵, so a
# 64-dim dot product is ≤ 64·(5×10⁵)² ≈ 1.6×10¹³ < 2⁵³ — exact in
# int64 AND exact through any double conversion, in any summation
# order, in both engines.  Long arithmetic stays in whole-stage
# codegen where the previous decimal path burned BigDecimal objects.
_SCALED_LONG = (
    "transform({col}, v -> CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(8,6))"
    " * 1000000 AS BIGINT))"
)

# SUM-semantics folds over scaled-long arrays: skip null terms, return
# NULL when every term is null — exactly what the old posexplode ⋈ SQL
# SUM produced, which `_dec_rows`'s zero-init fold does NOT (a null
# element poisons its accumulator).  /1e12 after a < 2⁵³ integer sum is
# the same single rounding as the decimal→double cast (see _dec_rows).
_SUMSQ_FOLD = (
    "CAST(aggregate(filter(transform({col}, x -> x * x), p -> p IS NOT NULL),"
    " CAST(NULL AS BIGINT),"
    " (s, v) -> CASE WHEN s IS NULL THEN v ELSE s + v END) AS DOUBLE) / 1e12"
)
_DOT_FOLD = (
    "CAST(aggregate(filter(zip_with({a}, {b}, (x, y) -> x * y),"
    " p -> p IS NOT NULL),"
    " CAST(NULL AS BIGINT),"
    " (s, v) -> CASE WHEN s IS NULL THEN v ELSE s + v END) AS DOUBLE) / 1e12"
)


def _fold_rows(
    emb: DataFrame, id_col: str = "vec_id", arr: str = "embedding"
) -> DataFrame:
    """(id, xs, nn): scaled-long vector + exact SUM-semantics norm, with
    null/empty arrays dropped — the row-local equivalent of what the
    posexplode ⋈ SUM pipelines computed per id (posexplode emits no rows
    for a null/empty array, so those ids vanished there too)."""
    src = emb.filter(F.col(arr).isNotNull() & (F.size(arr) > 0))
    return src.select(
        F.col(id_col), F.expr(_SCALED_LONG.format(col=arr)).alias("xs")
    ).select(id_col, "xs", F.expr(_SUMSQ_FOLD.format(col="xs")).alias("nn"))


# ---------------------------------------------------------------------------
# Arrow kernel adapter: the one row→matrix conversion of the numpy ANN
# kernels (IVF assignment, IVF candidate scoring, PQ ADC encode, PQ
# exact rerank)
# ---------------------------------------------------------------------------

# Largest |scaled coordinate| the Arrow float64 kernels accept, and the
# most terms one kernel sum may add.  At 2^22 a squared difference is
# ≤ (2·2^22)² = 2^46, so 128 of them sum to ≤ 2^53, and a dot product
# term is ≤ 2^44 — every float64 intermediate is an exactly-represented
# integer, in any summation order.  The DECIMAL(8,6) domain nominally
# admits 99.999999 (scaled 1e8), and nothing in the schema bounds the
# vector length: the kernels assert both limits so a data-domain
# widening fails loudly instead of silently losing bit-exactness.
_SCALED_ABS_MAX = 1 << 22
_MAX_TERMS = 128


def _check_scaled_bound(arr, what: str) -> None:
    """Raise if a scaled vector or matrix leaves the float64-exactness
    envelope: any |coordinate| above ``_SCALED_ABS_MAX``, or rows wider
    than ``_MAX_TERMS`` terms.  NaN-safe: null elements compare False
    and pass."""
    if arr.ndim and arr.shape[-1] > _MAX_TERMS:
        raise ValueError(
            f"{what}: {arr.shape[-1]} terms per sum exceeds {_MAX_TERMS}; "
            "the scaled-long float64 exactness bound (sums < 2^53) no "
            "longer holds — re-derive the quantization scale"
        )
    if arr.size and np.any(np.abs(arr) > _SCALED_ABS_MAX):
        raise ValueError(
            f"{what}: |scaled coordinate| exceeds {_SCALED_ABS_MAX}; "
            "the scaled-long float64 exactness bound (sums < 2^53) no "
            "longer holds — re-derive the quantization scale"
        )


def _to_matrix(lists, width: int | None = None):
    """Array rows → ``(mat, lens, nulls)``: a ``(len(lists), width)``
    float64 matrix with NaN for null elements and for the positions past
    a row's end (longer rows are cut at ``width``, which defaults to the
    longest row), the true row lengths, and the null-row mask (a null
    array has length 0)."""
    n = len(lists)
    nulls = np.fromiter((v is None for v in lists), dtype=bool, count=n)
    lens = np.fromiter(
        (0 if v is None else len(v) for v in lists), dtype=np.int64, count=n
    )
    if width is None:
        width = int(lens.max(initial=0))
    mat = np.full((n, width), np.nan)
    if n and width:
        # pandas pads ragged rows and maps null elements to NaN in C
        raw = pd.DataFrame([() if v is None else v for v in lists]).to_numpy(
            np.float64
        )
        w = min(width, raw.shape[1])
        mat[:, :w] = raw[:, :w]
    return mat, lens, nulls


def _scaled_matrix(lists, what: str, width: int | None = None):
    """:func:`_to_matrix` followed by the exactness check."""
    mat, lens, nulls = _to_matrix(lists, width)
    _check_scaled_bound(mat, what)
    return mat, lens, nulls


def _nullable_int64(v) -> pd.api.extensions.ExtensionArray:
    """float64 kernel results → an Int64 column, NaN → SQL NULL."""
    nan = np.isnan(v)
    return pd.arrays.IntegerArray(np.where(nan, 0, v).astype(np.int64), nan)


def _arrow_map(
    scan: DataFrame, operand, kernel, schema: str, what: str, width: int
) -> DataFrame:
    """Run ``kernel(pdf, X, lens, nulls, operand)`` over the Arrow batches
    of ``scan``, whose column ``arr`` holds the scaled vectors.  Each
    non-empty batch's ``arr`` becomes ``(X, lens, nulls)`` via
    :func:`_scaled_matrix` at the fixed ``width`` of the driver-side
    ``operand`` (the centroid matrix, the centroids and queries, the
    codebook or the query), which is broadcast once per call.  Scale
    shape: one narrow map pass — no join, no shuffle."""
    spark = scan.sparkSession
    bc = spark.sparkContext.broadcast(operand)

    def run(batches):
        op = bc.value
        for pdf in batches:
            if len(pdf):
                X, lens, nulls = _scaled_matrix(pdf["arr"].tolist(), what, width)
                yield kernel(pdf, X, lens, nulls, op)

    return scan.mapInPandas(run, schema=schema)


def _collect_scaled_centroids(centroids: DataFrame):
    """Driver-side materialization of the centroid set as scaled-long
    rows, sorted by cid — one job at plan build.  The centroid set is
    broadcast-by-contract (≤ the 2²⁰ sizing cap, ≪ executor memory
    under √N sizing), so collecting it is the same driver cost the
    broadcast already paid."""
    crows = (
        centroids.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        )
        .select("cid", F.expr(_SCALED_LONG.format(col="embedding")).alias("cs"))
        .collect()
    )
    crows.sort(key=lambda r: r["cid"])
    return crows


def _ivf_cells(X, C):
    """Row of the cid-sorted, zero-filled centroid matrix ``C`` with the
    largest dot against each row of ``X`` — the one cell assignment,
    run on the workers and, for a query batch, on the driver.
    ``zip_with`` semantics: a null element or a position past the
    shorter vector is a null term, and the assignment skips null terms
    — a zero product is the same thing, so both sides zero-fill.  Rows
    wider than the centroids meet zero columns (or are cut at the
    matrix width), where every further term would be null.
    ``np.argmax`` takes the first maximum and the centroid rows are
    cid-sorted: the (dot DESC, cid ASC) tie-break."""
    return np.argmax(np.nan_to_num(X) @ C.T, axis=1)


def _ivf_kernel(pdf, X, lens, nulls, op):
    """Cell of each scan row (:func:`_ivf_cells`)."""
    cids, C = op
    return pdf.iloc[:, :1].assign(cell=cids[_ivf_cells(X, C)].astype(np.int32))


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Assign each vector to its max-dot-product centroid cell with the
    (dot DESC, cid ASC) tie-break, as one exact scaled-long float64
    GEMM over Arrow batches (:func:`_ivf_kernel`).  Coordinates
    quantize to DECIMAL(8,6)·10⁶ longs, so every product ≤ 2.5×10¹¹ and
    every 64-term sum ≤ 1.6×10¹³ < 2⁵³ — BLAS computes each dot with
    ZERO rounding in any summation order, so the argmax is
    bit-identical to the DECIMAL oracle and to the BIGINT
    ``zip_with``/``aggregate`` fold kept as ``_ref_ivf_assign`` in
    ``tests/test_sketch_embedding_ops.py``.  The GEMM runs sf10's
    derived 2048 cells in seconds, where a posexplode ⋈ groupBy
    materialized 2×10¹¹ rows (38 min, round-8 sweep).

    At 100 TB: the centroid set is collected once at build
    (:func:`_collect_scaled_centroids`) and broadcast; the fact side is
    one narrow Arrow map pass — no shuffle, no join — spread across the
    cluster when the scan under-partitions (:func:`spread_scan`).
    Null / empty embeddings get no cell (posexplode emitted no rows for
    them in the old explode ⋈ SUM form; the nulls-contract sweep pins
    this)."""
    emb = spread_scan(emb, id_col)
    crows = _collect_scaled_centroids(centroids)
    if not crows:
        # zero usable centroids → zero assignments (the old join
        # formulation's inner-join semantics), never a sentinel cid
        return emb.select(F.col(id_col)).limit(0).select(
            F.col(id_col), F.lit(None).cast("int").alias("cell")
        )
    cids = np.asarray([r["cid"] for r in crows], dtype=np.int64)
    C, _, _ = _scaled_matrix([r["cs"] for r in crows], "ivf centroids")
    src = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select(
        F.col(id_col), F.expr(_SCALED_LONG.format(col="embedding")).alias("arr")
    )
    return _arrow_map(
        src,
        (cids, np.nan_to_num(C)),
        _ivf_kernel,
        f"{id_col} long, cell int",
        "ivf scan",
        C.shape[1],
    )


def q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: assign all vectors to cells (deterministic stand-in
    centroids: the first N_CELLS vectors; production would k-means),
    then rerank ONLY the query's cell — the candidate set shrinks by
    ~N_CELLS× versus brute force."""
    emb = load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    # the assignment feeds BOTH the query-cell lookup and the member
    # scan — checkpoint so the corpus fold runs once per query
    assign = ivf_assign(emb, cents).localCheckpoint(eager=False)
    qcell = assign.filter(F.col("vec_id") == 0).select("cell")
    cand_ids = (
        assign.join(F.broadcast(qcell), "cell")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    cand = emb.join(cand_ids, "vec_id")
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return cosine_topk_exact(cand, query, k=5)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4


def _dec_rows(emb: DataFrame, *extra_cols: Column) -> DataFrame:
    """(vec_id, xs, nn[, extras]): per-row scaled-long vector + exact
    norm (DECIMAL(8,6)-quantized coordinates carried as x·10⁶ longs).

    The exact integer arithmetic makes the dot/norm folds
    order-independent, so values match the decimal oracle while a
    pair join moves ROWS, not the n²·dim positions a posexplode+join
    formulation would shuffle (measured 1.5× wall at sf0.1 locally; the
    shuffle-volume gap widens on a real network).
    """
    # round-8: the decimal fold became SCALED-LONG arithmetic — the
    # DECIMAL(8,6) quantization stays (same value domain), but each
    # coordinate carries as x·10⁶ BIGINT, so products ≤ 2.5×10¹¹ and
    # 64-term sums ≤ 1.6×10¹³ < 2⁵³: exact in int64, and the final
    # /1e12 double division is the SAME single rounding as the old
    # DECIMAL(25,12)→DOUBLE cast (one correctly-rounded conversion of
    # the identical rational) — oracle-bit-exact, while long folds run
    # in whole-stage codegen where BigDecimal folds burned the sf10
    # sweeps (dedup-semantic's pair rerank was the largest residual).
    lvec = F.expr(
        f"transform(embedding, v -> CAST(CAST(CAST(v AS DOUBLE) AS {_DEC})"
        f" * 1000000 AS BIGINT))"
    )
    norm = F.expr(
        f"CAST(aggregate(transform(embedding, v -> CAST(CAST(CAST(v AS DOUBLE)"
        f" AS {_DEC}) * 1000000 AS BIGINT)),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS DOUBLE) / 1e12"
    )
    return emb.select("vec_id", lvec.alias("xs"), norm.alias("nn"), *extra_cols)


def _pair_cosine(pairs: DataFrame) -> DataFrame:
    """(va, vb, cosine) from pair rows carrying xa/xb/na/nb — exact
    scaled-long dot fold surfaced as double (oracle-bit-exact; see
    :func:`_dec_rows` for the < 2⁵³ argument).  Null elements yield
    null products, and the fold propagates the null into a null dot —
    exactly as the decimal fold did (a null-element pair drops at the
    threshold filter)."""
    dot = F.expr(
        "CAST(aggregate(zip_with(xa, xb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / 1e12"
    )
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
    return pairs.select("va", "vb", dot.alias("dot"), "na", "nb").select(
        "va", "vb", cos.alias("cosine")
    )


EXACT_BASELINE_CAP = 2000  # fixed reference subset for the n² baseline


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection on the embedding space: all pairs with
    cosine >= threshold.  This is the EXACT-RECALL oracle baseline —
    the pair join is an explicit n²/2 product — so it runs on a FIXED
    reference subset (``vec_id < 2000``: the whole corpus at sf ≤ 0.1,
    a pinned 2k-vector eval slice above), the standard ANN-eval
    device: ground truth on a bounded slice, never on the corpus.
    The default operator a user should reach for is
    :func:`embedding_near_dupes` / ``dedup-embedding-bucketed``, which
    restricts candidates to LSH buckets, reranks with the same exact
    scoring, and runs UNCAPPED at any scale."""
    e = _dec_rows(
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < EXACT_BASELINE_CAP)
    )
    a = e.select(F.col("vec_id").alias("va"), F.col("xs").alias("xa"), F.col("nn").alias("na"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("xs").alias("xb"), F.col("nn").alias("nb"))
    return _pair_cosine(a.join(b, F.col("va") < F.col("vb"))).filter(
        F.col("cosine") >= COSINE_DUP_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Bucketed near-dup: the default, scale-safe path
# ---------------------------------------------------------------------------

N_SIGN_BITS = 8


def sign_bucket(col: str = "embedding", n_bits: int = N_SIGN_BITS) -> Column:
    """Axis-aligned sign-projection LSH bucket id — pure JVM expression.

    Each of the first ``n_bits`` coordinates contributes one sign bit:
    ``bucket = Σ_j (x[j] >= 0) << j``.  This is the random-hyperplane
    family restricted to axis-aligned planes: same collision guarantee
    shape (P[collision] grows with cosine), fully codegen'd, and —
    unlike the numpy-hyperplane variant (:func:`lsh_bucket_ids`) —
    reproducible in ANSI SQL, so the bucketed operator gets a full
    value-hash oracle instead of a rows-only check.
    """
    terms = " + ".join(
        f"(CASE WHEN {col}[{j}] >= 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    return F.expr(terms)


def embedding_near_dupes(
    emb: DataFrame, threshold: float = COSINE_DUP_THRESHOLD, exact: bool = False
) -> DataFrame:
    """Default embedding near-duplicate operator: LSH-bucket candidate
    generation + exact cosine rerank.

    The candidate join is an equi-join on ``bucket`` — shuffles move
    same-bucket rows only (~n²/2^bits pairs), never a cartesian
    product; ``tests/test_similarity_plans.py`` asserts the plan.  Pass
    ``exact=True`` for the all-pairs exact-recall baseline (small n
    only — n²/2 pairs at 100 TB is a non-starter).
    """
    e = _dec_rows(emb, sign_bucket().alias("bucket"))
    a = e.select("bucket", F.col("vec_id").alias("va"), F.col("xs").alias("xa"), F.col("nn").alias("na"))
    b = e.select("bucket", F.col("vec_id").alias("vb"), F.col("xs").alias("xb"), F.col("nn").alias("nb"))
    if exact:
        pairs = a.drop("bucket").join(b.drop("bucket"), F.col("va") < F.col("vb"))
    else:
        pairs = a.join(b, "bucket").filter(F.col("va") < F.col("vb"))
    return _pair_cosine(pairs).filter(F.col("cosine") >= threshold)


def q_dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dupes(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# LSH bucket path (scale): Rademacher random-hyperplane projection
# ---------------------------------------------------------------------------

N_PLANES = 8
_SEED = "lshplane|"


def _rademacher_signs(n_planes: int = N_PLANES, dim: int = 64) -> list[list[int]]:
    """±1 hyperplane coefficients derived from md5 parity — the
    Achlioptas (2003) database-friendly random projection: sign
    matrices preserve the random-hyperplane LSH collision guarantee
    while every coefficient is a literal both engines can share."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{_SEED}{j}|{d}".encode()).digest()[0] % 2 == 0 else -1
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_bucket_ids(emb: DataFrame, dim: int = 64, n_planes: int = N_PLANES) -> DataFrame:
    """Sign-random-projection bucket id per row — bit j is the sign of
    the dot product with a ±1 (Rademacher) hyperplane, the bucket the
    ``n_planes``-bit concatenation.  Unlike an axis-aligned sign bucket
    every plane mixes ALL coordinates, so bucket balance doesn't hinge
    on any single dimension's distribution.

    Entirely codegen (an explicit ±x[d] chain per plane — no pandas
    UDF, no shuffle); the same left-to-right double-precision chain is
    emitted in the DuckDB oracle, so signs are bit-identical and the
    key carries a full value-hash oracle (round-2 verdict item 3: the
    old numpy-gaussian variant was the registry's only rows-only key).
    """
    signs = _rademacher_signs(n_planes, dim)
    bucket = None
    for j, row in enumerate(signs):
        chain = " + ".join(
            f"({'' if s > 0 else '-'}CAST(embedding[{d}] AS DOUBLE))"
            for d, s in enumerate(row)
        )
        bit = F.when(F.expr(chain) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("int"))


def _lsh_bucket_sql(n_planes: int = N_PLANES, dim: int = 64) -> str:
    """The identical ±chain in DuckDB's 1-indexed array syntax."""
    signs = _rademacher_signs(n_planes, dim)
    bits = []
    for j, row in enumerate(signs):
        chain = " + ".join(
            f"({'' if s > 0 else '-'}CAST(embedding[{d + 1}] AS DOUBLE))"
            for d, s in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({chain}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def bucketed_neighbors(emb: DataFrame, k: int = 5) -> DataFrame:
    """Per-bucket brute force: candidates only among same-bucket rows —
    the join that replaces the all-pairs product at 100 TB."""
    b = lsh_bucket_ids(emb)
    a = b.select("bucket", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    c = b.select("bucket", F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    pairs = a.join(c, "bucket").filter(F.col("a_id") < F.col("b_id"))
    dot = F.aggregate(
        F.zip_with("a_emb", "b_emb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return pairs.select("bucket", "a_id", "b_id", dot.alias("dot"))


def q_simsearch_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        lsh_bucket_ids(emb)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization: 4× smaller vectors, integer-exact coarse pass
# ---------------------------------------------------------------------------

SQ_SCALE = 127
SQ_COARSE_K = 50


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization with a FIXED scale:
    ``q = clamp(floor(x·127 + 0.5), -127, 127)``.

    ``floor(x + 0.5)`` instead of ``round(x)`` because round's
    half-up/half-even convention differs across engines while floor of
    an IEEE double is bit-identical everywhere — the quantized codes
    must agree exactly for the coarse scores to be comparable.

    At 100 TB this is the storage/bandwidth lever for ANN: int8 codes
    are 4× smaller than float32, the coarse dot product is exact
    integer arithmetic (codegen'd long math, no FP accumulation
    order issues), and only the top candidates ever touch the full
    float vectors.  All per-row work — no shuffle."""
    q = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.least(F.floor(x.cast("double") * SQ_SCALE + F.lit(0.5)), F.lit(127)),
            F.lit(-127),
        ).cast("int"),
    )
    return emb.select(id_col, q.alias("qvec"))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (vec_id, pos, q) form so the cross-engine value check
    covers every code."""
    emb = load(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb).select(
        "vec_id", F.posexplode("qvec").alias("pos", "q")
    )


def q_simsearch_sq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier ANN: integer coarse scoring over int8 codes selects
    SQ_COARSE_K candidates (TakeOrderedAndProject — no global sort),
    then the exact-decimal cosine reranks only those and keeps 10.
    The coarse pass reads 1/4 the bytes of brute force and the exact
    pass touches 50 rows instead of the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    qv = quantize_embeddings(emb)
    qq = qv.filter(F.col("vec_id") == 0).select(F.col("qvec").alias("qqv"))
    qdot = F.aggregate(
        F.zip_with("qvec", "qqv", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cand = (
        qv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qq))
        .select("vec_id", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), "vec_id")
        .limit(SQ_COARSE_K)
        .select("vec_id")
    )
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return cosine_topk_exact(emb.join(F.broadcast(cand), "vec_id"), query, k=10)


def knn_join_exact(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
) -> DataFrame:
    """Batched k-NN join: every row of ``queries`` (``qid_col``, ``qv``)
    gets its cosine top-k among ``emb`` rows — the many-query form of
    :func:`cosine_topk_exact` (single lookup → batch retrieval).

    Scale shape (round-9, guide §2.4): the query side is the broadcast
    side (ANN batches are thousands of rows; the corpus is the 100 TB
    side); each corpus row folds its scaled-long dot against every
    broadcast query row-locally in whole-stage codegen — the 64×-row
    posexplode, the position join, and the ``groupBy(qid, vec_id)``
    partial-agg exchange of the previous shape are gone.  The only
    exchange left is the rank-filter window (WindowGroupLimit pushes
    the k-filter map-side), and at scale the candidate set would first
    be cut by ``bucketed_neighbors``.  Scaled-long sums (< 2⁵³) keep
    the double conversion bit-identical across engines (same contract
    as :func:`cosine_topk_exact`; null semantics pinned by the
    explode-reference bit-identity test).
    """
    c = _fold_rows(emb, id_col=id_col)
    q = (
        queries.filter(F.col("qv").isNotNull() & (F.size("qv") > 0))
        .select(F.col(qid_col), F.expr(_SCALED_LONG.format(col="qv")).alias("qs"))
        .select(qid_col, "qs", F.expr(_SUMSQ_FOLD.format(col="qs")).alias("nq"))
    )
    dot = F.expr(_DOT_FOLD.format(a="xs", b="qs"))
    scored = c.crossJoin(F.broadcast(q)).select(
        qid_col,
        F.col(id_col),
        (dot / (F.sqrt("nn") * F.sqrt("nq"))).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "cosine")
    )


def _ivf_score_kernel(pdf, X, lens, nulls, op):
    """Exact cosine of each scan row against every query of its own
    cell.  Per occupied query cell, the member rows' dots with the
    cell's queries are ONE GEMM over zero-filled operands, and a second
    GEMM over the non-null masks counts the common terms: a pair with
    none has a NULL dot (``_DOT_FOLD``'s SUM semantics).  Every dot is
    an integer below 2^53, so ``(dot/1e12) / (sqrt(nn)·sqrt(nq))`` is
    bit-identical to the JVM expression, including Spark's non-ANSI
    division (NULL for a NULL operand or a zero divisor)."""
    cids, C, qids, qcells, Q, nq = op
    known = ~np.isnan(X)
    Xz = np.where(known, X, 0.0)
    cell = cids[_ivf_cells(Xz, C)]
    ids = pdf["vec_id"].to_numpy()
    nn = pdf["nn"].to_numpy(np.float64)
    qi, ri, vals = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for c in np.unique(qcells):
        rows = np.flatnonzero(cell == c)
        if rows.size:
            qs = np.flatnonzero(qcells == c)
            dot = Xz[rows] @ np.nan_to_num(Q[qs]).T / 1e12
            common = known[rows].astype(np.float64) @ ~np.isnan(Q[qs]).T
            div = np.sqrt(nn[rows])[:, None] * np.sqrt(nq[qs])[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where((common > 0) & (div != 0), dot / div, np.nan)
            qi.append(np.tile(qs, rows.size))
            ri.append(np.repeat(rows, qs.size))
            vals.append(cos.ravel())
    cos = np.concatenate(vals)
    null = np.isnan(cos)
    return pd.DataFrame(
        {
            "query_id": qids[np.concatenate(qi)],
            "vec_id": ids[np.concatenate(ri)],
            "cosine": pd.arrays.FloatingArray(np.where(null, 0.0, cos), null),
        }
    )


def ivf_candidate_scores(
    corpus: DataFrame, queries: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Exact cosine of every IVF candidate pair: each ``corpus``
    (vec_id, embedding) row against each ``queries`` (query_id, qv) row
    assigned to the same ``centroids`` (cid, embedding) cell →
    (query_id, vec_id, cosine).  The FAISS IVF-Flat scan: every corpus
    vector is scored against its own cell's queries in one pass.

    Build: ONE Spark job collects the scaled-long centroid and query
    rows together; the driver builds the cid-sorted centroid matrix
    and the query matrix (both through the exactness guard), the query
    cells (:func:`_ivf_cells`, the corpus side's argmax) and the query
    norms.  Execution: one narrow Arrow pass (:func:`_ivf_score_kernel`)
    over the spread corpus, carrying each row's JVM ``_SUMSQ_FOLD``
    norm, which covers the whole row outside the kernel's term guard.
    Null/empty vectors and null ids drop on both sides; no usable
    centroid or query → no pairs.  Precondition: ``vec_id`` is unique.

    At 100 TB: the centroids and the query batch are broadcast (both
    bounded by contract), the corpus is read in one narrow pass, and
    candidate pairs are never shuffled before scoring — the only data
    shuffle left is the caller's top-k window over the scored pairs."""
    schema = "query_id long, vec_id long, cosine double"

    def usable(arr: str) -> Column:
        return F.col(arr).isNotNull() & (F.size(arr) > 0)

    def scaled(arr: str) -> Column:
        return F.expr(_SCALED_LONG.format(col=arr)).alias("arr")

    cent_rows = centroids.filter(usable("embedding")).select(
        F.lit(False).alias("is_q"),
        F.col("cid").cast("long").alias("id"),
        scaled("embedding"),
    )
    query_rows = queries.filter(
        usable("qv") & F.col("query_id").isNotNull()
    ).select(F.lit(True).alias("is_q"), F.col("query_id").alias("id"), scaled("qv"))
    rows = cent_rows.unionByName(query_rows).collect()
    crows = sorted((r for r in rows if not r["is_q"]), key=lambda r: r["id"])
    qrows = [r for r in rows if r["is_q"]]
    if not crows or not qrows:
        return corpus.sparkSession.createDataFrame([], schema)
    width = max(len(r["arr"]) for r in rows)
    C, _, _ = _scaled_matrix([r["arr"] for r in crows], "ivf centroids", width)
    Q, _, _ = _scaled_matrix([r["arr"] for r in qrows], "ivf queries", width)
    C = np.nan_to_num(C)
    cids = np.asarray([r["id"] for r in crows], dtype=np.int64)
    qids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    # SUM semantics: null terms skipped, NULL when every term is null
    nq = np.where(np.isnan(Q).all(1), np.nan, np.nansum(Q * Q, axis=1) / 1e12)
    scan = (
        spread_scan(corpus, "vec_id")
        .filter(usable("embedding") & F.col("vec_id").isNotNull())
        .select("vec_id", scaled("embedding"))
        .select("vec_id", "arr", F.expr(_SUMSQ_FOLD.format(col="arr")).alias("nn"))
    )
    return _arrow_map(
        scan,
        (cids, C, qids, cids[_ivf_cells(Q, C)], Q, nq),
        _ivf_score_kernel,
        schema,
        "ivf scan",
        width,
    )


def q_simsearch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the IVF index against exact
    brute force, per query.  Every vector-search deployment runs this
    harness before trusting an index; here it is itself a distributed,
    oracle-checked operator: exact top-5 via the batched k-NN join,
    approximate top-5 via the IVF candidate scores of
    ``simsearch-ivf-knn-join`` (stand-in centroids as in
    ``simsearch-ivf``), recall = |approx ∩ exact| / 5.

    Scale shape: the approximate side scores each corpus row against
    its own cell's queries only (:func:`ivf_candidate_scores`: one
    narrow pass, no candidate-pair join, no checkpoint), so its cost is
    the candidate fraction of brute force; the recall join runs over
    2·Q·k tiny rows."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    q_n, k = 8, 5
    queries = emb.filter(F.col("vec_id") < q_n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= q_n)
    exact = knn_join_exact(corpus, queries, k=k).select("query_id", "vec_id")
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    s = ivf_candidate_scores(corpus, queries, cents)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    approx = (
        s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    hits = approx.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


def q_simsearch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — vector search under a metadata predicate ("top-5
    nearest WHERE label = 1"), the retrieval mode every production
    vector store needs and naive ANN indexes fumble (post-filtering
    top-k can return < k).  Composition: push the attribute filter
    BEFORE candidate generation (pre-filtering — exactness preserved,
    and the candidate set shrinks by the filter's selectivity), then
    the exact decimal cosine top-k.  At 100 TB the filter prunes with
    the parquet scan (predicate pushdown), so selective filters make
    filtered search CHEAPER than unfiltered — the opposite of
    post-filter designs."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = emb.filter((F.col("vec_id") != 0) & (F.col("label") == 1))
    return cosine_topk_exact(cand, query, k=5)


MMR_LAMBDA = 0.7
MMR_POOL = 20
MMR_K = 5


def mmr_rerank(emb: DataFrame, k: int = MMR_K, pool: int = MMR_POOL) -> DataFrame:
    """Maximal-marginal-relevance diversity re-ranking: from the
    query's top-``pool`` cosine shortlist, greedily pick ``k`` items
    maximizing ``λ·rel − (1−λ)·max-sim-to-already-picked`` — the
    standard diversification pass after retrieval (search results,
    RAG context selection, eval-set sampling).

    Scale shape: MMR diversifies a SHORTLIST by contract, so the
    iterative argmax runs over ``pool`` rows — the distributed work is
    producing the shortlist (the knn reduction) and the pool×pool
    pairwise similarities (both oracle-exact decimal paths); the greedy
    loop then collects ONE row per step, like k-means' per-round
    centroid pull.  Relevance and similarity are decimal-exact, the
    score combination is identical IEEE double arithmetic, ties break
    on vec_id — the selection SEQUENCE is engine-reproducible, and the
    key emits (step, vec_id) so no float ever reaches the hash."""
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    shortlist = cosine_topk_exact(emb.filter(F.col("vec_id") != 0), query, k=pool)
    cand_emb = emb.join(shortlist.select("vec_id"), "vec_id")
    e = cand_emb.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id", "pos", F.col("x").cast("double").cast(_DEC).alias("x")
    )
    n = e.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).cast("double").alias("nn")
    )
    a = e.select(F.col("vec_id").alias("va"), "pos", F.col("x").alias("xa"))
    b = e.select(F.col("vec_id").alias("vb"), "pos", F.col("x").alias("xb"))
    dots = (
        a.join(b, "pos")
        .filter(F.col("va") != F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(F.col("xa") * F.col("xb")).cast("double").alias("dot"))
    )
    sims = (
        dots.join(n.withColumnRenamed("vec_id", "va").withColumnRenamed("nn", "na"), "va")
        .join(n.withColumnRenamed("vec_id", "vb").withColumnRenamed("nn", "nb"), "vb")
        .select("va", "vb", (F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))).alias("sim"))
    )
    rel = {r.vec_id: r.cosine for r in shortlist.collect()}
    sim_rows = sims.collect()  # pool² rows — bounded by contract
    sim = {(r.va, r.vb): r.sim for r in sim_rows}
    selected: list[int] = []
    for _ in range(k):
        best = None
        for v, r in sorted(rel.items()):
            if v in selected:
                continue
            penalty = max((sim[(v, s)] for s in selected), default=0.0)
            score = MMR_LAMBDA * r - (1 - MMR_LAMBDA) * penalty
            if best is None or score > best[0] or (score == best[0] and v < best[1]):
                best = (score, v)
        if best is None:  # shortlist exhausted (< k candidates, or empty corpus)
            break
        selected.append(best[1])
    out = [(i + 1, v) for i, v in enumerate(selected)]
    return emb.sparkSession.createDataFrame(out, "step int, vec_id bigint")


def q_simsearch_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mmr_rerank(load(spark, sf_dir, "embeddings"))



def _mmr_oracle(k: int = MMR_K, pool: int = MMR_POOL, lam: float = MMR_LAMBDA) -> str:
    """Unrolled greedy-selection oracle: CTE s_i picks the argmax of
    ``lam*rel - (1-lam)*max-sim-to-{s_1..s_{i-1}}`` — generated
    programmatically so k stays a constant of the operator, not of the
    SQL text.  ``(1 - lam)`` is left symbolic so both engines compute
    the identical IEEE constant."""
    sel = ["s1 AS (SELECT vec_id FROM rel ORDER BY cosine DESC, vec_id LIMIT 1)"]
    prev = "SELECT vec_id FROM s1"
    for i in range(2, k + 1):
        sel.append(f"""s{i} AS (
          SELECT r.vec_id FROM rel r
          WHERE r.vec_id NOT IN ({prev})
          ORDER BY {lam} * r.cosine - (1 - {lam}) * (
              SELECT MAX(p.sim) FROM sims p
              WHERE p.va = r.vec_id AND p.vb IN ({prev})) DESC, r.vec_id
          LIMIT 1)""")
        prev += f" UNION ALL SELECT vec_id FROM s{i}"
    final = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, vec_id FROM s{i}" for i in range(1, k + 1)
    )
    sel_block = ",\n        ".join(sel)
    return f"""
        WITH e AS (
          SELECT vec_id, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i) WHERE vec_id <> 0),
        q AS (
          SELECT t.i AS pos,
                 CAST(CAST(qe.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
          FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qe,
               generate_series(1, 64) t(i)),
        nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
        pv AS (
          SELECT e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
                 CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
          FROM e JOIN q USING (pos) GROUP BY e.vec_id),
        rel AS (
          SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
          FROM pv, nq ORDER BY cosine DESC, vec_id LIMIT {pool}),
        ce AS (SELECT * FROM e WHERE vec_id IN (SELECT vec_id FROM rel)),
        nn AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS nn FROM ce GROUP BY 1),
        pd AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
          FROM ce a JOIN ce b ON a.pos = b.pos AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        sims AS (
          SELECT va, vb, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS sim
          FROM pd JOIN nn na ON na.vec_id = pd.va
                  JOIN nn nb ON nb.vec_id = pd.vb),
        {sel_block}
        {final}
        ORDER BY step
    """

def _mmr_oracle_staged(
    k: int = MMR_K, pool: int = MMR_POOL, lam: float = MMR_LAMBDA
) -> str:
    """Staged big-SF twin of ``simsearch-mmr-rerank``: the registry
    oracle's greedy CTEs s₂..s_k each re-reference rel/sims (which
    chain back through the |corpus|·64-row ``e`` expansion), and
    DuckDB's inlining of those multi-referenced CTEs replicated the
    base pipeline until the sf10 oracle hit 112 GB RSS and the kernel
    OOM-killed the sweep (round 8).  Same semantics: the shared
    intermediates (pool-bounded ``rel`` and pairwise ``sims``) are
    materialized ONCE into temp tables, and the unrolled greedy
    selection runs over those ≤pool-row relations."""
    sel = ["s1 AS (SELECT vec_id FROM mmr_rel ORDER BY cosine DESC, vec_id LIMIT 1)"]
    prev = "SELECT vec_id FROM s1"
    for i in range(2, k + 1):
        sel.append(f"""s{i} AS (
          SELECT r.vec_id FROM mmr_rel r
          WHERE r.vec_id NOT IN ({prev})
          ORDER BY {lam} * r.cosine - (1 - {lam}) * (
              SELECT MAX(p.sim) FROM mmr_sims p
              WHERE p.va = r.vec_id AND p.vb IN ({prev})) DESC, r.vec_id
          LIMIT 1)""")
        prev += f" UNION ALL SELECT vec_id FROM s{i}"
    final = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, vec_id FROM s{i}"
        for i in range(1, k + 1)
    )
    sel_block = ",\n        ".join(sel)
    stmts = [
        "DROP TABLE IF EXISTS mmr_e",
        """CREATE TEMP TABLE mmr_e AS
        SELECT vec_id, t.i AS pos,
               CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
        FROM embeddings, generate_series(1, 64) t(i) WHERE vec_id <> 0""",
        "DROP TABLE IF EXISTS mmr_rel",
        f"""CREATE TEMP TABLE mmr_rel AS
        WITH q AS (
          SELECT t.i AS pos,
                 CAST(CAST(qe.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
          FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qe,
               generate_series(1, 64) t(i)),
        nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
        pv AS (
          SELECT e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
                 CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
          FROM mmr_e e JOIN q USING (pos) GROUP BY e.vec_id)
        SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
        FROM pv, nq ORDER BY cosine DESC, vec_id LIMIT {pool}""",
        "DROP TABLE IF EXISTS mmr_sims",
        """CREATE TEMP TABLE mmr_sims AS
        WITH ce AS (SELECT * FROM mmr_e
                    WHERE vec_id IN (SELECT vec_id FROM mmr_rel)),
        nn AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS nn
               FROM ce GROUP BY 1),
        pd AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
          FROM ce a JOIN ce b ON a.pos = b.pos AND a.vec_id <> b.vec_id
          GROUP BY 1, 2)
        SELECT va, vb, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS sim
        FROM pd JOIN nn na ON na.vec_id = pd.va
                JOIN nn nb ON nb.vec_id = pd.vb""",
        f"""WITH {sel_block}
        {final}
        ORDER BY step""",
    ]
    return ";\n".join(stmts)


def q_simsearch_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return knn_join_exact(emb.filter(F.col("vec_id") >= 8), queries, k=5)


def q_simsearch_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-accelerated batch ANN retrieval — the SCALE form of
    ``simsearch-knn-join``: the query batch and the corpus are assigned
    to coarse cells, and each corpus row's exact cosine is computed
    against its own cell's queries only (~1/N_CELLS of brute force),
    all in :func:`ivf_candidate_scores` — one driver collect of the
    centroids and queries at build, then one narrow Arrow pass over
    the corpus; no same-cell pair join, no checkpoint.  Emits the
    production retrieval result (query_id, rank, vec_id, cosine);
    `simsearch-recall-eval` prices exactly this operator's recall
    against brute force, and `simsearch-nprobe-curve` its
    candidate-count/recall tradeoff.

    At 100 TB: the centroids and the query batch are broadcast, the
    corpus is read once without a shuffle, and the only data shuffle
    is the top-k window over the scored candidates — the FAISS
    IVF-Flat scan."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    q_n, k = 8, 5
    queries = emb.filter(F.col("vec_id") < q_n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= q_n)
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    s = ivf_candidate_scores(corpus, queries, cents)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (PQ_M * PQ_DSUB = 64)
PQ_K = 16  # codebook entries per subspace
PQ_SCALE = 1000  # fixed-point scale: exact integer arithmetic end to end
PQ_QUERY_ID = 42
PQ_CAND = 32
PQ_TOPK = 10


def _pq_scaled(emb: DataFrame) -> DataFrame:
    """Fixed-point copy of the embedding: ``floor(x·1000 + 0.5)`` per
    component (same engine-portable rounding as ``quantize_embeddings``)
    so every PQ distance below is exact BIGINT arithmetic."""
    s = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * PQ_SCALE + F.lit(0.5)).cast("bigint"),
    )
    return emb.select("vec_id", s.alias("arr"))


def _pq_operands(scaled: DataFrame):
    """The PQ driver-side operands in ONE Spark job: the codebook rows
    (``vec_id < PQ_K``, cid-sorted) and the query arrays (the rows with
    ``vec_id = PQ_QUERY_ID``; at most one by vec_id uniqueness, none
    when the query row is missing)."""
    rows = scaled.filter(
        (F.col("vec_id") < PQ_K) | (F.col("vec_id") == PQ_QUERY_ID)
    ).collect()
    codebook = sorted(
        (r for r in rows if r["vec_id"] < PQ_K), key=lambda r: r["vec_id"]
    )
    query = [r["arr"] for r in rows if r["vec_id"] == PQ_QUERY_ID]
    return codebook, query


def _pq_sub_dists(X, lens, nulls, C, c_lens, c_null):
    """``(len(X), len(C), PQ_M)`` squared L2 between every row of ``X``
    and every codebook row of ``C`` over each PQ_DSUB-wide subspace,
    NaN for SQL NULL — the one implementation of the BIGINT
    ``aggregate(zip_with(slice(a), slice(b)))`` fold, used on the driver
    for the query's ADC table and in :func:`_pq_adc_kernel` for the
    scan.

    ``zip_with`` pads the shorter slice with null up to max(len), so a
    position below that length is INCLUDED (a null or missing term
    nulls the subspace sum), a position at or past it does not exist
    (an empty slice sums to 0), and a null array on either side nulls
    every sum."""
    maxlen = np.maximum(lens[:, None], c_lens[None, :])  # (n, k)
    out = np.empty((len(X), len(C), PQ_M))
    for m in range(PQ_M):
        lo = m * PQ_DSUB
        d2 = (
            X[:, None, lo : lo + PQ_DSUB] - C[None, :, lo : lo + PQ_DSUB]
        ) ** 2  # (n, k, PQ_DSUB); NaN where either side is null/missing
        include = (lo + np.arange(PQ_DSUB)[None, None, :]) < maxlen[:, :, None]
        out[:, :, m] = np.where(include, d2, 0.0).sum(axis=2)
    out[nulls] = np.nan
    out[:, c_null] = np.nan
    return out


def _pq_adc_kernel(pdf, X, lens, nulls, op):
    """Per scan row: the PQ code of each subspace (argmin of the
    combined ``dv·PQ_K + cid`` key, ``dv`` from :func:`_pq_sub_dists`)
    and the sum of its query-side distances ``dq``.

    The argmin keeps ``min(struct(dv·PQ_K+cid, dq))``'s
    null-struct-field-sorts-FIRST rule (``min`` over
    ``struct(NULL,5),struct(3,9)`` picks the NULL) through a −inf fill;
    among equal keys the smallest ``dq`` wins, and on a full tie the
    first (smallest) cid."""
    cids, C, c_lens, c_null, dq = op
    neg_inf = np.float64("-inf")
    dq_fill = np.where(np.isnan(dq), neg_inf, dq)  # (PQ_K, PQ_M)
    dv = _pq_sub_dists(X, lens, nulls, C, c_lens, c_null)  # (n, PQ_K, PQ_M)
    t = np.zeros((len(pdf), PQ_M))  # chosen dq per subspace
    for m in range(PQ_M):
        k = dv[:, :, m] * PQ_K + cids[None, :]
        kf = np.where(np.isnan(k), neg_inf, k)  # null sorts first
        tie = kf == kf.min(axis=1, keepdims=True)
        pick = np.where(tie, dq_fill[None, :, m], np.inf).argmin(axis=1)
        t[:, m] = dq[pick, m]
    # NaN propagates through the sum like SQL NULL
    return pdf[["vec_id"]].assign(adc_dist=_nullable_int64(t.sum(axis=1)))


def _pq_adc_arrow(
    scaled: DataFrame, scan_ids: DataFrame | None, codebook, query
) -> DataFrame:
    """ADC encode as a NaN-aware numpy kernel over Arrow batches
    (:func:`_pq_adc_kernel`), given the operands of :func:`_pq_operands`.
    The PQ_K×PQ_M query→centroid table ``dq`` is computed on the driver
    by :func:`_pq_sub_dists` and broadcast with the codebook; the scan
    is one narrow Arrow map pass, no join, no shuffle.  No codebook or
    no query row yields zero rows (the crossJoin contract of the
    reference).

    Bit-identical to the BIGINT ``zip_with``/``slice``/``aggregate``
    fold + ``min(struct)`` groupBy kept as ``_ref_pq_adc_scores`` in
    ``tests/test_sketch_embedding_ops.py``: the same scaled BIGINT grid
    (``_pq_scaled``), and every per-subspace squared-L2 ≤
    8·(2·_SCALED_ABS_MAX)² < 2^53, so float64 arithmetic is exact in
    any order."""
    # optional candidate restriction (the IVF→PQ two-stage path):
    # codebook and query always come from the FULL corpus, the ADC scan
    # touches only the given ids
    scan = scaled if scan_ids is None else scaled.join(scan_ids, "vec_id")
    if not codebook or not query:
        return scan.select("vec_id").limit(0).select(
            F.col("vec_id"), F.lit(None).cast("bigint").alias("adc_dist")
        )
    cids = np.asarray([r["vec_id"] for r in codebook], dtype=np.int64)
    dim = PQ_M * PQ_DSUB
    C, c_lens, c_null = _scaled_matrix([r["arr"] for r in codebook], "pq codebook", dim)
    Q, q_lens, q_null = _scaled_matrix(query[:1], "pq query", dim)
    dq = _pq_sub_dists(Q, q_lens, q_null, C, c_lens, c_null)[0]  # (PQ_K, PQ_M)
    return _arrow_map(
        scan.select("vec_id", "arr"),
        (cids, C, c_lens, c_null, dq),
        _pq_adc_kernel,
        "vec_id long, adc_dist long",
        "pq scan",
        dim,
    )


def _pq_exact_kernel(pdf, X, lens, nulls, op):
    """Exact squared-L2 of each shortlist row to the query.  ``zip_with``
    spans max(len(arr), len(qarr)) positions, a missing or null element
    nulls its term, and the unfiltered fold nulls the whole sum — so a
    row has a distance only when it is exactly as long as the query and
    null-free (two empty arrays fold to 0), and a NULL array on either
    side nulls it."""
    q, q_null = op
    s = ((X - q[None, :]) ** 2).sum(axis=1)
    s[(lens != len(q)) | nulls | q_null] = np.nan
    return pdf[["vec_id", "adc_dist"]].assign(exact_dist=_nullable_int64(s))


def _pq_exact_arrow(shortlist: DataFrame, query) -> DataFrame:
    """The PQ exact rerank as a NaN-aware numpy kernel over Arrow
    batches (:func:`_pq_exact_kernel`).  Input is the PQ_CAND-bounded
    shortlist (vec_id, adc_dist, arr) and the query arrays of
    :func:`_pq_operands`; the query is broadcast, and a MISSING query
    row yields zero output rows (the empty-broadcast crossJoin
    contract).

    Bit-identical to the BIGINT ``zip_with``/``aggregate`` fold kept as
    ``_ref_pq_topk`` in ``tests/test_sketch_embedding_ops.py``: same
    scaled BIGINT grid, and every squared-diff sum has at most
    ``_MAX_TERMS`` terms below the 2^22 coordinate bound (both asserted
    by ``_check_scaled_bound``), so float64 is exact in any order."""
    if not query:
        return shortlist.limit(0).select(
            "vec_id", "adc_dist", F.lit(None).cast("bigint").alias("exact_dist")
        )
    q, _, q_null = _scaled_matrix(query[:1], "pq exact query")
    return _arrow_map(
        shortlist.select("vec_id", "adc_dist", "arr"),
        (q[0], bool(q_null[0])),
        _pq_exact_kernel,
        "vec_id long, adc_dist long, exact_dist long",
        "pq exact scan",
        q.shape[1],
    )


def pq_topk(emb: DataFrame, scan_ids: DataFrame | None = None) -> DataFrame:
    """PQ/ADC approximate nearest neighbours with exact rerank.

    Encode: each vector's m-th subvector maps to its nearest of PQ_K
    codebook centroids (deterministic stand-in codebook: the vectors
    with ``vec_id < PQ_K``, same contract as the IVF key's centroids —
    production would train it with k-means, see `cluster-kmeans`).
    ADC: the query→centroid distance table replaces the full vector in
    the scan, so candidate scoring reads PQ_M codes (8 bytes) instead
    of 64 floats — the 32× memory-bandwidth lever that makes
    billion-vector ANN feasible.

    Plan build runs ONE Spark job: :func:`_pq_operands` collects the
    codebook and the query row together.  The driver computes the
    PQ_K×PQ_M ADC table from them (:func:`_pq_sub_dists`), the encode
    argmin and ADC sum run in one numpy kernel over Arrow batches, and
    the exact integer rerank (:func:`_pq_exact_arrow`, the same kernel
    shape, reusing the collected query) touches only the PQ_CAND
    shortlist.

    Scale shape: two narrow Arrow map passes with ≤PQ_K-row and 1-row
    broadcast operands, a broadcast join of the shortlist ids, and
    TakeOrderedAndProject for both top-k steps — no shuffle ever moves
    more than |candidates|."""
    scaled = _pq_scaled(emb)
    codebook, query = _pq_operands(scaled)
    cand = (
        _pq_adc_arrow(scaled, scan_ids, codebook, query)
        .orderBy("adc_dist", "vec_id")
        .limit(PQ_CAND)
    )
    shortlist = scaled.join(F.broadcast(cand), "vec_id")
    exact = _pq_exact_arrow(shortlist, query)
    return exact.orderBy("exact_dist", "vec_id").limit(PQ_TOPK)


def pq_adc_scores(emb: DataFrame, scan_ids: DataFrame | None = None) -> DataFrame:
    """The PQ encode + ADC sum as a standalone (vec_id, adc_dist)
    table — the stage ``pq_topk`` ranks.  Plan build runs one Spark job
    (:func:`_pq_operands`) and computes the ADC table on the driver.
    ``test_pq_adc_arrow_and_jvm_paths_identical`` pins it to the
    JVM-fold reference over the full corpus, including
    null/empty/ragged edge vectors."""
    scaled = _pq_scaled(emb)
    return _pq_adc_arrow(scaled, scan_ids, *_pq_operands(scaled))


def q_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_topk(load(spark, sf_dir, "embeddings"))


# ------------------------------------------------ embedding health stats

LOW_VAR_EPS = 0.001


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension mean/variance across the corpus — the embedding
    health check (a collapsed dimension carries no information; a
    drifting mean breaks cosine assumptions).  posexplode → ONE
    partial-aggregated groupBy on the dimension index (64 groups
    regardless of corpus size); decimal(8,6) components keep the power
    sums exact and order-free, double only in the final variance."""
    e = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        "pos", F.col("xf").cast("double").cast(_DEC).alias("x")
    )
    agg = e.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    nd = F.col("n_vecs").cast("double")
    m = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - m * m
    return (
        agg.select(
            F.col("pos").alias("dim"),
            "n_vecs",
            F.round(m, 6).alias("mean_x"),
            F.round(var, 6).alias("variance"),
            (F.round(var, 6) < F.lit(LOW_VAR_EPS)).alias("low_var"),
        )
        .orderBy("dim")
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_dim_stats(load(spark, sf_dir, "embeddings"))


# ------------------------------------------------- Matryoshka truncation

MRL_PREFIX = 16  # retained leading dimensions


def matryoshka_recall(emb: DataFrame, prefix: int = MRL_PREFIX, k: int = 5) -> DataFrame:
    """Recall@k of PREFIX-dimension cosine search against full-dimension
    exact search — the Matryoshka-truncation eval: how many dimensions
    can be dropped (4× cheaper dot products, 4× smaller index) before
    ranking quality degrades.

    One posexplode feeds BOTH scorings: full and prefix dot/norm sums
    come out of the same (query, vec) groupBy via conditional decimal
    sums, both ranks are windows partitioned by query, and recall is
    the count of rows inside both top-k sets — no second scan, no
    re-join of candidate lists."""
    e = emb.select("vec_id", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id", "pos", F.col("xf").cast("double").cast(_DEC).alias("x")
    )
    q = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), "pos", F.col("x").alias("qx"))
    )
    c = e.filter(F.col("vec_id") >= 8)
    zero = F.lit(0).cast("decimal(17,12)")
    pre = F.col("pos") < prefix

    norms_c = c.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).alias("ne_full"),
        F.sum(F.when(pre, F.col("x") * F.col("x")).otherwise(zero)).alias("ne_pre"),
    )
    norms_q = q.groupBy("query_id").agg(
        F.sum(F.col("qx") * F.col("qx")).alias("nq_full"),
        F.sum(F.when(pre, F.col("qx") * F.col("qx")).otherwise(zero)).alias("nq_pre"),
    )
    dots = (
        c.join(F.broadcast(q), "pos")
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).alias("dot_full"),
            F.sum(F.when(pre, F.col("x") * F.col("qx")).otherwise(zero)).alias(
                "dot_pre"
            ),
        )
    )
    s = (
        dots.join(norms_c, "vec_id")
        .join(F.broadcast(norms_q), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                F.col("dot_full").cast("double")
                / (
                    F.sqrt(F.col("ne_full").cast("double"))
                    * F.sqrt(F.col("nq_full").cast("double"))
                )
            ).alias("cos_full"),
            (
                F.col("dot_pre").cast("double")
                / (
                    F.sqrt(F.col("ne_pre").cast("double"))
                    * F.sqrt(F.col("nq_pre").cast("double"))
                )
            ).alias("cos_pre"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.col("cos_pre").desc(), F.col("vec_id")
    )
    ranked = s.withColumn("rn_full", F.row_number().over(w_full)).withColumn(
        "rn_pre", F.row_number().over(w_pre)
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("rn_full") <= k) & (F.col("rn_pre") <= k), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_hit")
        )
        .select(
            "query_id",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(k)), 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def q_embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_recall(load(spark, sf_dir, "embeddings"))


TRIPLET_ANCHORS = 16


def triplet_mine(emb: DataFrame, n_anchors: int = TRIPLET_ANCHORS) -> DataFrame:
    """Hard-triplet mining for metric learning: per anchor, the nearest
    SAME-label vector (positive) and the nearest DIFFERENT-label vector
    (hard negative), with the margin between them — the batch every
    contrastive/triplet trainer wants, as a relational plan.

    One posexplode feeds the anchor×corpus dot grid (anchor side
    broadcasts); exact decimal sums → double cosines; two rank windows
    per anchor (one over same-label, one over different-label) pick the
    pair.  At corpus scale the grid restricts to ANN candidates first
    (simsearch-ivf / lsh buckets) — the mining stage is unchanged."""
    e = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id", "label", "pos", F.col("xf").cast("double").cast(_DEC).alias("x")
    )
    a = e.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("a_label"),
        "pos",
        F.col("x").alias("ax"),
    )
    norms = e.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("nrm"))
    dots = (
        e.join(F.broadcast(a), "pos")
        .filter(F.col("vec_id") != F.col("anchor"))
        .groupBy("anchor", "a_label", "vec_id", "label")
        .agg(F.sum(F.col("x") * F.col("ax")).alias("dot"))
    )
    an = norms.select(F.col("vec_id").alias("anchor"), F.col("nrm").alias("a_nrm"))
    cos = (
        dots.join(norms, "vec_id")
        .join(F.broadcast(an), "anchor")
        .select(
            "anchor",
            "a_label",
            "vec_id",
            "label",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("a_nrm").cast("double")))
            ).alias("cos"),
        )
    )
    wpos = Window.partitionBy("anchor").orderBy(F.col("cos").desc(), F.col("vec_id"))
    pos = (
        cos.filter(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select("anchor", F.col("vec_id").alias("pos_id"), F.col("cos").alias("cos_pos"))
    )
    neg = (
        cos.filter(F.col("label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select("anchor", F.col("vec_id").alias("neg_id"), F.col("cos").alias("cos_neg"))
    )
    return (
        pos.join(neg, "anchor")
        .select(
            "anchor",
            "pos_id",
            "neg_id",
            F.round(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
        )
        .orderBy("anchor")
    )


def q_embedding_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triplet_mine(load(spark, sf_dir, "embeddings"))


def centroid_accuracy(emb: DataFrame) -> DataFrame:
    """Nearest-centroid classification readout: per-label centroid
    directions score every vector, accuracy per true label — the
    5-minute "are these embeddings separable?" probe (and the eval
    companion to embedding-centroids/cluster-kmeans).

    Exactness trick: cosine is invariant to positive scaling, so the
    centroid NEVER divides by n — the per-label component SUM (exact
    decimal) stands in for the mean, and every cosine computes from
    exact sums.  The centroid table is |labels|×64 rows, broadcast;
    argmax is a rank window per vector."""
    e = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id", "label", "pos", F.col("xf").cast("double").cast(_DEC).alias("x")
    )
    cent = e.groupBy("label", "pos").agg(F.sum("x").alias("cx"))
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("cx") * F.col("cx")).alias("cn")
    )
    vnorm = e.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("vn"))
    dots = (
        e.join(
            F.broadcast(cent.select(F.col("label").alias("c_label"), "pos", "cx")),
            "pos",
        )
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("x") * F.col("cx")).alias("dot"))
    )
    cos = (
        dots.join(F.broadcast(cnorm.select(F.col("label").alias("c_label"), "cn")), "c_label")
        .join(vnorm, "vec_id")
        .select(
            "vec_id",
            "label",
            "c_label",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("cn").cast("double")) * F.sqrt(F.col("vn").cast("double")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("c_label"))
    pred = (
        cos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("pred"))
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_vecs").cast("double"), 6
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


def q_embedding_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroid_accuracy(load(spark, sf_dir, "embeddings"))


QUERIES = {
    "embedding-centroid-accuracy": q_embedding_centroid_accuracy,
    "embedding-triplet-mine": q_embedding_triplet_mine,
    "embedding-dim-stats": q_embedding_dim_stats,
    "embedding-matryoshka-recall": q_embedding_matryoshka,
    "simsearch-topk": q_simsearch_topk,
    "simsearch-pq-adc": q_simsearch_pq,
    "simsearch-knn-join": q_simsearch_knn_join,
    "simsearch-ivf-knn-join": q_simsearch_ivf_knn_join,
    "simsearch-recall-eval": q_simsearch_recall_eval,
    "simsearch-mmr-rerank": q_simsearch_mmr,
    "simsearch-filtered": q_simsearch_filtered,
    "simsearch-ivf": q_simsearch_ivf,
    "dedup-embedding-cosine": q_dedup_embedding_cosine,
    "dedup-embedding-bucketed": q_dedup_embedding_bucketed,
    "simsearch-lsh-buckets": q_simsearch_lsh_buckets,
    "embedding-quantize": q_embedding_quantize,
    "simsearch-sq-rerank": q_simsearch_sq_rerank,
}

_QUANT_SQL = (
    "CAST(GREATEST(LEAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 127 + 0.5), 127),"
    " -127) AS INTEGER)"
)

# DuckDB arrays are 1-indexed; Spark's sign_bucket reads embedding[j]
# 0-indexed — embedding[j+1] below is the SAME coordinate.
_SIGN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
    for j in range(N_SIGN_BITS)
)

_EMB_BUCKETED_ORACLE = f"""
    WITH s AS (
      SELECT vec_id, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
    e AS (
      SELECT vec_id, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i)),
    n AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS nn FROM e GROUP BY 1),
    cand AS (
      SELECT sa.vec_id AS va, sb.vec_id AS vb
      FROM s sa JOIN s sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id),
    d AS (
      SELECT c.va, c.vb, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand c
      JOIN e a ON a.vec_id = c.va
      JOIN e b ON b.vec_id = c.vb AND b.pos = a.pos
      GROUP BY 1, 2)
    SELECT va, vb, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
    FROM d JOIN n na ON na.vec_id = d.va JOIN n nb ON nb.vec_id = d.vb
    WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= {COSINE_DUP_THRESHOLD}
"""

_IVF_ORACLE = """
    WITH e AS (
      SELECT vec_id, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i)),
    c AS (SELECT vec_id AS cid, pos, x AS cx FROM e WHERE vec_id < 8),
    dots AS (
      SELECT e.vec_id, c.cid, CAST(SUM(e.x * c.cx) AS DOUBLE) AS dot
      FROM e JOIN c ON e.pos = c.pos GROUP BY 1, 2),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
        FROM dots) t
      WHERE rn = 1),
    qcell AS (SELECT cell FROM assign WHERE vec_id = 0),
    cand AS (SELECT a.vec_id FROM assign a, qcell
             WHERE a.cell = qcell.cell AND a.vec_id <> 0),
    q AS (SELECT pos, x AS qx FROM e WHERE vec_id = 0),
    nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
    per AS (
      SELECT e.vec_id,
             CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
             CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
      FROM e JOIN q ON e.pos = q.pos
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1)
    SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
    FROM per, nq
    ORDER BY cosine DESC, vec_id
    LIMIT 5
"""

_EMB_DUP_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i)
      WHERE vec_id < {EXACT_BASELINE_CAP}),
    n AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS nn FROM e GROUP BY 1),
    d AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT va, vb, dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
    FROM d JOIN n na ON na.vec_id = d.va JOIN n nb ON nb.vec_id = d.vb
    WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= {COSINE_DUP_THRESHOLD}
"""

ORACLES = {
    "embedding-centroid-accuracy": """
        WITH allv AS (
          SELECT vec_id, label, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        cent AS (
          SELECT label AS c_label, pos, SUM(x) AS cx
          FROM allv GROUP BY 1, 2),
        cnorm AS (SELECT c_label, SUM(cx * cx) AS cn FROM cent GROUP BY 1),
        vnorm AS (SELECT vec_id, SUM(x * x) AS vn FROM allv GROUP BY 1),
        dots AS (
          SELECT e.vec_id, e.label, c.c_label, SUM(e.x * c.cx) AS dot
          FROM allv e JOIN cent c ON c.pos = e.pos
          GROUP BY 1, 2, 3),
        cosn AS (
          SELECT d.vec_id, d.label, d.c_label,
                 CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(cn.cn AS DOUBLE)) * sqrt(CAST(vn.vn AS DOUBLE)))
                   AS cos
          FROM dots d
          JOIN cnorm cn ON cn.c_label = d.c_label
          JOIN vnorm vn ON vn.vec_id = d.vec_id),
        pred AS (
          SELECT vec_id, label, c_label AS pred FROM (
            SELECT vec_id, label, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, c_label) AS rn
            FROM cosn) WHERE rn = 1)
        SELECT label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct,
               ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        FROM pred GROUP BY label ORDER BY label
    """,
    "embedding-triplet-mine": """
        WITH allv AS (
          SELECT vec_id, label, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        norms AS (SELECT vec_id, SUM(x * x) AS nrm FROM allv GROUP BY 1),
        a AS (SELECT vec_id AS anchor, label AS a_label, pos, x AS ax
              FROM allv WHERE vec_id < 16),
        dots AS (
          SELECT a.anchor, a.a_label, e.vec_id, e.label, SUM(e.x * a.ax) AS dot
          FROM allv e JOIN a ON e.pos = a.pos AND e.vec_id <> a.anchor
          GROUP BY 1, 2, 3, 4),
        cosn AS (
          SELECT d.anchor, d.a_label, d.vec_id, d.label,
                 CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(n.nrm AS DOUBLE)) * sqrt(CAST(an.nrm AS DOUBLE)))
                   AS cos
          FROM dots d
          JOIN norms n ON n.vec_id = d.vec_id
          JOIN norms an ON an.vec_id = d.anchor),
        p AS (
          SELECT anchor, vec_id AS pos_id, cos AS cos_pos FROM (
            SELECT anchor, vec_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY anchor
                                      ORDER BY cos DESC, vec_id) AS rn
            FROM cosn WHERE label = a_label) WHERE rn = 1),
        ng AS (
          SELECT anchor, vec_id AS neg_id, cos AS cos_neg FROM (
            SELECT anchor, vec_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY anchor
                                      ORDER BY cos DESC, vec_id) AS rn
            FROM cosn WHERE label <> a_label) WHERE rn = 1)
        SELECT p.anchor, p.pos_id, ng.neg_id,
               ROUND(p.cos_pos - ng.cos_neg, 6) AS margin
        FROM p JOIN ng USING (anchor) ORDER BY p.anchor
    """,
    "embedding-dim-stats": """
        WITH e AS (
          SELECT t.i - 1 AS dim,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        a AS (
          SELECT dim, COUNT(*) AS n_vecs, SUM(x) AS s1, SUM(x * x) AS s2
          FROM e GROUP BY 1)
        SELECT dim, n_vecs,
               ROUND(CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS mean_x,
               ROUND(CAST(s2 AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE)), 6)
                 AS variance,
               ROUND(CAST(s2 AS DOUBLE) / CAST(n_vecs AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE)), 6) < 0.001
                 AS low_var
        FROM a ORDER BY dim
    """,
    "embedding-matryoshka-recall": """
        WITH allv AS (
          SELECT vec_id, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        q AS (SELECT vec_id AS query_id, pos, x AS qx FROM allv WHERE vec_id < 8),
        c AS (SELECT vec_id, pos, x FROM allv WHERE vec_id >= 8),
        nc AS (
          SELECT vec_id, SUM(x * x) AS ne_full,
                 SUM(CASE WHEN pos <= 16 THEN x * x
                          ELSE CAST(0 AS DECIMAL(16,12)) END) AS ne_pre
          FROM c GROUP BY 1),
        nq AS (
          SELECT query_id, SUM(qx * qx) AS nq_full,
                 SUM(CASE WHEN pos <= 16 THEN qx * qx
                          ELSE CAST(0 AS DECIMAL(16,12)) END) AS nq_pre
          FROM q GROUP BY 1),
        d AS (
          SELECT q.query_id, c.vec_id,
                 SUM(c.x * q.qx) AS dot_full,
                 SUM(CASE WHEN c.pos <= 16 THEN c.x * q.qx
                          ELSE CAST(0 AS DECIMAL(16,12)) END) AS dot_pre
          FROM c JOIN q ON c.pos = q.pos GROUP BY 1, 2),
        s AS (
          SELECT d.query_id, d.vec_id,
                 CAST(dot_full AS DOUBLE)
                   / (sqrt(CAST(ne_full AS DOUBLE)) * sqrt(CAST(nq_full AS DOUBLE)))
                   AS cos_full,
                 CAST(dot_pre AS DOUBLE)
                   / (sqrt(CAST(ne_pre AS DOUBLE)) * sqrt(CAST(nq_pre AS DOUBLE)))
                   AS cos_pre
          FROM d JOIN nc USING (vec_id) JOIN nq USING (query_id)),
        r AS (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_full DESC, vec_id) AS rn_full,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_pre DESC, vec_id) AS rn_pre
          FROM s)
        SELECT query_id,
               CAST(SUM(CASE WHEN rn_full <= 5 AND rn_pre <= 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit,
               ROUND(CAST(SUM(CASE WHEN rn_full <= 5 AND rn_pre <= 5 THEN 1 ELSE 0 END)
                          AS BIGINT) / 5.0, 6) AS recall_at_5
        FROM r GROUP BY 1 ORDER BY 1
    """,
    "simsearch-ivf": _IVF_ORACLE,
    "simsearch-ivf-knn-join": """
        WITH allv AS (
          SELECT vec_id, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        c AS (SELECT vec_id AS cid, pos, x AS cx FROM allv WHERE vec_id < 8),
        assign_all AS (
          SELECT a.vec_id, c.cid, CAST(SUM(a.x * c.cx) AS DOUBLE) AS adot
          FROM allv a JOIN c ON a.pos = c.pos GROUP BY 1, 2),
        cells AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY adot DESC, cid) AS rn
            FROM assign_all) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, pos, x AS qx FROM allv WHERE vec_id < 8),
        e AS (SELECT vec_id, pos, x FROM allv WHERE vec_id >= 8),
        ne AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS ne FROM e GROUP BY 1),
        nq AS (SELECT query_id, CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q GROUP BY 1),
        cand AS (
          SELECT cq.vec_id AS query_id, ce.vec_id
          FROM cells cq JOIN cells ce ON ce.cell = cq.cell
          WHERE cq.vec_id < 8 AND ce.vec_id >= 8),
        d AS (
          SELECT q.query_id, e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot
          FROM cand
          JOIN e ON e.vec_id = cand.vec_id
          JOIN q ON q.query_id = cand.query_id AND q.pos = e.pos
          GROUP BY 1, 2),
        s AS (
          SELECT d.query_id, d.vec_id,
                 d.dot / (sqrt(ne.ne) * sqrt(nq.nq)) AS cosine
          FROM d JOIN ne ON ne.vec_id = d.vec_id
                 JOIN nq ON nq.query_id = d.query_id)
        SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id,
               ROUND(cosine, 6) AS cosine
        FROM (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rn
          FROM s) WHERE rn <= 5
        ORDER BY query_id, rank
    """,
    "simsearch-lsh-buckets": f"""
        WITH s AS (
          SELECT vec_id, CAST({{bucket}} AS INTEGER) AS bucket FROM embeddings)
        SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec_id
        FROM s GROUP BY 1
    """.replace("{bucket}", _lsh_bucket_sql()),
    "dedup-embedding-cosine": _EMB_DUP_ORACLE,
    "dedup-embedding-bucketed": _EMB_BUCKETED_ORACLE,
    "simsearch-topk": """
        WITH q AS (
          SELECT t.i AS pos,
                 CAST(CAST(qv.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
          FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qv,
               generate_series(1, 64) t(i)),
        nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
        e AS (
          SELECT e.vec_id, t.i AS pos,
                 CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings e, generate_series(1, 64) t(i)
          WHERE e.vec_id <> 0),
        per_vec AS (
          SELECT e.vec_id,
                 CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
                 CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
          FROM e JOIN q ON e.pos = q.pos
          GROUP BY e.vec_id)
        SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
        FROM per_vec, nq
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """,
    "simsearch-filtered": """
        WITH e AS (
          SELECT e.vec_id, t.i AS pos,
                 CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings e, generate_series(1, 64) t(i)
          WHERE e.vec_id <> 0 AND e.label = 1),
        q AS (
          SELECT t.i AS pos,
                 CAST(CAST(qe.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
          FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qe,
               generate_series(1, 64) t(i)),
        nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
        pv AS (
          SELECT e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
                 CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
          FROM e JOIN q USING (pos) GROUP BY e.vec_id)
        SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
        FROM pv, nq ORDER BY cosine DESC, vec_id LIMIT 5
    """,
    "simsearch-recall-eval": """
        WITH allv AS (
          SELECT vec_id, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        c AS (SELECT vec_id AS cid, pos, x AS cx FROM allv WHERE vec_id < 8),
        assign_all AS (
          SELECT a.vec_id, c.cid, CAST(SUM(a.x * c.cx) AS DOUBLE) AS adot
          FROM allv a JOIN c ON a.pos = c.pos GROUP BY 1, 2),
        cells AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY adot DESC, cid) AS rn
            FROM assign_all) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, pos, x AS qx FROM allv WHERE vec_id < 8),
        e AS (SELECT vec_id, pos, x FROM allv WHERE vec_id >= 8),
        ne AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS ne FROM e GROUP BY 1),
        nq AS (SELECT query_id, CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q GROUP BY 1),
        d AS (
          SELECT q.query_id, e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot
          FROM e JOIN q ON e.pos = q.pos GROUP BY 1, 2),
        s AS (
          SELECT d.query_id, d.vec_id,
                 d.dot / (sqrt(ne.ne) * sqrt(nq.nq)) AS cosine
          FROM d JOIN ne ON ne.vec_id = d.vec_id
                 JOIN nq ON nq.query_id = d.query_id),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rn
            FROM s) WHERE rn <= 5),
        cand AS (
          SELECT cq.vec_id AS query_id, ce.vec_id
          FROM cells cq JOIN cells ce ON ce.cell = cq.cell
          WHERE cq.vec_id < 8 AND ce.vec_id >= 8),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id
                                      ORDER BY s.cosine DESC, s.vec_id) AS rn
            FROM s JOIN cand ON cand.query_id = s.query_id
                            AND cand.vec_id = s.vec_id) WHERE rn <= 5),
        hits AS (
          SELECT a.query_id, COUNT(*) AS n_hit
          FROM approx a JOIN exact x
            ON x.query_id = a.query_id AND x.vec_id = a.vec_id
          GROUP BY 1)
        SELECT qq.query_id,
               CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
               ROUND(COALESCE(h.n_hit, 0) / 5.0, 6) AS recall_at_5
        FROM (SELECT DISTINCT query_id FROM q) qq
        LEFT JOIN hits h ON h.query_id = qq.query_id
        ORDER BY qq.query_id
    """,
    "simsearch-knn-join": """
        WITH q AS (
          SELECT b.vec_id AS query_id, t.i AS pos,
                 CAST(CAST(b.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
          FROM embeddings b, generate_series(1, 64) t(i)
          WHERE b.vec_id < 8),
        e AS (
          SELECT e.vec_id, t.i AS pos,
                 CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings e, generate_series(1, 64) t(i)
          WHERE e.vec_id >= 8),
        ne AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS ne FROM e GROUP BY 1),
        nq AS (SELECT query_id, CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q GROUP BY 1),
        d AS (
          SELECT q.query_id, e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot
          FROM e JOIN q ON e.pos = q.pos GROUP BY 1, 2),
        s AS (
          SELECT d.query_id, d.vec_id,
                 d.dot / (sqrt(ne.ne) * sqrt(nq.nq)) AS cosine
          FROM d JOIN ne ON ne.vec_id = d.vec_id
                 JOIN nq ON nq.query_id = d.query_id),
        r AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rn
          FROM s)
        SELECT query_id, vec_id, cosine FROM r WHERE rn <= 5
    """,
}

ORACLES["simsearch-mmr-rerank"] = _mmr_oracle()

ORACLES["embedding-quantize"] = f"""
    SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS pos, {_QUANT_SQL} AS q
    FROM embeddings, generate_series(1, 64) t(i)
"""

ORACLES["simsearch-sq-rerank"] = f"""
    WITH qv AS (
      SELECT vec_id, t.i AS pos, CAST({_QUANT_SQL} AS BIGINT) AS q
      FROM embeddings, generate_series(1, 64) t(i)),
    qq AS (SELECT pos, q AS qx FROM qv WHERE vec_id = 0),
    coarse AS (
      SELECT qv.vec_id, SUM(qv.q * qq.qx) AS qdot
      FROM qv JOIN qq ON qv.pos = qq.pos
      WHERE qv.vec_id <> 0 GROUP BY 1),
    cand AS (SELECT vec_id FROM coarse ORDER BY qdot DESC, vec_id LIMIT 50),
    e AS (
      SELECT e.vec_id, t.i AS pos,
             CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings e, generate_series(1, 64) t(i)
      WHERE e.vec_id IN (SELECT vec_id FROM cand)),
    q AS (
      SELECT t.i AS pos,
             CAST(CAST(qv2.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
      FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qv2,
           generate_series(1, 64) t(i)),
    nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
    per_vec AS (
      SELECT e.vec_id,
             CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
             CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
      FROM e JOIN q ON e.pos = q.pos
      GROUP BY e.vec_id)
    SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
    FROM per_vec, nq
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""


def _pq_oracle() -> str:
    """DuckDB twin of :func:`pq_topk` — list comprehensions for the
    slice distances, ``arg_min`` on the same combined ``dv·16+cid``
    BIGINT key for the code assignment."""

    def sub(m: int, a: str, b: str) -> str:
        lo, hi = m * PQ_DSUB + 1, m * PQ_DSUB + PQ_DSUB + 1
        return (
            f"list_sum([({a}[i]-{b}[i])*({a}[i]-{b}[i])"
            f" for i in range({lo},{hi})])"
        )

    dists = ",\n               ".join(
        f"{sub(m, 's.arr', 'cb.carr')} AS dv{m},"
        f" {sub(m, 'q.qarr', 'cb.carr')} AS dq{m}"
        for m in range(PQ_M)
    )
    enc = ", ".join(
        f"arg_min(dq{m}, dv{m}*{PQ_K} + cid) AS t{m}" for m in range(PQ_M)
    )
    adc = " + ".join(f"t{m}" for m in range(PQ_M))
    return f"""
        WITH s AS (
          SELECT vec_id,
                 [CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*{PQ_SCALE} + 0.5) AS BIGINT)
                  for i in range(1,65)] AS arr
          FROM embeddings),
        cb AS (SELECT vec_id AS cid, arr AS carr FROM s WHERE vec_id < {PQ_K}),
        q AS (SELECT arr AS qarr FROM s WHERE vec_id = {PQ_QUERY_ID}),
        j AS (SELECT s.vec_id, cb.cid,
               {dists}
              FROM s, cb, q),
        enc AS (SELECT vec_id, {enc} FROM j GROUP BY vec_id),
        cand AS (SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
                 FROM enc ORDER BY adc_dist, vec_id LIMIT {PQ_CAND}),
        ex AS (
          SELECT c.vec_id, c.adc_dist,
                 CAST(list_sum([(s.arr[i]-q.qarr[i])*(s.arr[i]-q.qarr[i])
                                for i in range(1,65)]) AS BIGINT) AS exact_dist
          FROM cand c JOIN s ON s.vec_id = c.vec_id, q)
        SELECT * FROM ex ORDER BY exact_dist, vec_id LIMIT {PQ_TOPK}
    """


ORACLES["simsearch-pq-adc"] = _pq_oracle()


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical (BM25) and dense
# (embedding-cosine) rankings
# ---------------------------------------------------------------------------

RRF_K = 60          # standard RRF damping constant (Cormack et al.)
RRF_LIST_N = 50     # depth of each input ranking
RRF_TOP = 20


def rrf_hybrid(
    docs: DataFrame,
    emb: DataFrame,
    list_n: int = RRF_LIST_N,
    rrf_k: int = RRF_K,
    top: int = RRF_TOP,
) -> DataFrame:
    """Hybrid search: fuse a lexical BM25 ranking and a dense
    embedding-cosine ranking with reciprocal-rank fusion
    ``score(d) = Σ_r 1/(k + rank_r(d))`` — the standard way to combine
    sparse and dense retrieval without score calibration (RAG context
    retrieval, eval-set mining).

    Scale shape: each input list is a distributed score-and-reduce
    (BM25: explode → tf groupBy restricted to the query terms; dense:
    decimal dot-product reduction) ending in a ``TakeOrderedAndProject``
    shortlist of ``list_n`` rows.  Only the two shortlists — O(list_n),
    not O(corpus) — pass through the single-partition ``row_number``
    windows and the fusion join, so the unpartitioned windows are
    bounded by contract, like the MMR pool.  Ranks are integers and the
    RRF score is the same IEEE expression over those integers in both
    engines — no float ever feeds the ordering ambiguously.
    """
    from pandasqlite_spark.functions.text import bm25_scores

    lex = bm25_scores(docs, top=list_n)
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dense = cosine_topk_exact(emb.filter(F.col("vec_id") != 0), query, k=list_n)
    w_dense = Window.orderBy(F.col("cosine").desc(), "vec_id")
    dense_ranked = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_dense).alias("dense_rank"),
    )

    fused = lex_ranked.join(dense_ranked, "doc_id", "full_outer")
    contrib = lambda rank: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k).cast("double") + F.col(rank).cast("double")),
        F.lit(0.0),
    )
    rrf = contrib("lex_rank") + contrib("dense_rank")
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(top)
    )


def q_simsearch_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_hybrid(load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings"))


QUERIES["simsearch-rrf-hybrid"] = q_simsearch_rrf_hybrid

ORACLES["simsearch-rrf-hybrid"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('spark', 'window') GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    corpus AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT SUM(dl) FROM dl) AS sum_dl),
    lex AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5))
               * ((CAST(tf AS DOUBLE) * 2.2)
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             ), 6) AS bm25
      FROM tf
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id), corpus
      GROUP BY tf.doc_id
      ORDER BY bm25 DESC, doc_id LIMIT {RRF_LIST_N}),
    lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM lex),
    e AS (
      SELECT vec_id, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i) WHERE vec_id <> 0),
    q AS (
      SELECT t.i AS pos,
             CAST(CAST(qe.embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS qx
      FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) qe,
           generate_series(1, 64) t(i)),
    nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
    pv AS (
      SELECT e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
             CAST(SUM(e.x * e.x) AS DOUBLE) AS ne
      FROM e JOIN q USING (pos) GROUP BY e.vec_id),
    dense AS (
      SELECT vec_id, dot / (sqrt(ne) * sqrt(nq.nq)) AS cosine
      FROM pv, nq ORDER BY cosine DESC, vec_id LIMIT {RRF_LIST_N}),
    denser AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS dense_rank
      FROM dense),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank
      FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id)
    SELECT doc_id, lex_rank, dense_rank,
           ROUND(COALESCE(1.0 / (CAST({RRF_K} AS DOUBLE) + CAST(lex_rank AS DOUBLE)), 0.0)
                 + COALESCE(1.0 / (CAST({RRF_K} AS DOUBLE) + CAST(dense_rank AS DOUBLE)), 0.0),
                 6) AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP}
"""


# ---------------------------------------------------------------------------
# Two-stage ANN: IVF coarse cells → PQ/ADC scan → exact rerank
# ---------------------------------------------------------------------------

def q_simsearch_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production billion-scale ANN pipeline shape, composed from
    the two existing stages: an IVF coarse quantizer restricts the scan
    to the query's cell (~N_CELLS× fewer candidates), PQ/ADC scores the
    cell members reading 8 codes instead of 64 floats, and the exact
    integer rerank touches only the ADC shortlist.  This is FAISS's
    IVF-PQ layout as a DataFrame composition.

    Scale shape: centroids and the ADC table broadcast (≤16 rows each);
    the cell assignment is a narrow Arrow map pass, the only
    data-volume shuffle is the cell-membership equi-join, and
    everything after the cell restriction is bounded by the cell size.  All distances are
    exact fixed-point BIGINTs end to end (the decimal assignment for
    cells, the ×1000 grid for PQ), so the composition stays
    oracle-exact."""
    emb = load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    # assignment reused by the query-cell lookup and the member scan
    assign = ivf_assign(emb, cents).localCheckpoint(eager=False)
    qcell = assign.filter(F.col("vec_id") == PQ_QUERY_ID).select("cell")
    cand_ids = (
        assign.join(F.broadcast(qcell), "cell")
        .filter(F.col("vec_id") != PQ_QUERY_ID)
        .select("vec_id")
    )
    return pq_topk(emb, scan_ids=cand_ids)


QUERIES["simsearch-ivf-pq"] = q_simsearch_ivf_pq


def _ivf_pq_oracle() -> str:
    """DuckDB twin of the two-stage path: the IVF assignment CTEs feed
    a membership restriction into the PQ scan; codebook and query stay
    corpus-global, identical to the Spark composition."""

    def sub(m: int, a: str, b: str) -> str:
        lo, hi = m * PQ_DSUB + 1, m * PQ_DSUB + PQ_DSUB + 1
        return (
            f"list_sum([({a}[i]-{b}[i])*({a}[i]-{b}[i])"
            f" for i in range({lo},{hi})])"
        )

    dists = ",\n               ".join(
        f"{sub(m, 's.arr', 'cb.carr')} AS dv{m},"
        f" {sub(m, 'q.qarr', 'cb.carr')} AS dq{m}"
        for m in range(PQ_M)
    )
    enc = ", ".join(
        f"arg_min(dq{m}, dv{m}*{PQ_K} + cid) AS t{m}" for m in range(PQ_M)
    )
    adc = " + ".join(f"t{m}" for m in range(PQ_M))
    return f"""
        WITH e AS (
          SELECT vec_id, t.i AS pos,
                 CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
          FROM embeddings, generate_series(1, 64) t(i)),
        c AS (SELECT vec_id AS cid, pos, x AS cx FROM e WHERE vec_id < {N_CELLS}),
        dots AS (
          SELECT e.vec_id, c.cid, CAST(SUM(e.x * c.cx) AS DOUBLE) AS dot
          FROM e JOIN c ON e.pos = c.pos GROUP BY 1, 2),
        assign AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
            FROM dots) t
          WHERE rn = 1),
        qcell AS (SELECT cell FROM assign WHERE vec_id = {PQ_QUERY_ID}),
        members AS (
          SELECT a.vec_id FROM assign a, qcell
          WHERE a.cell = qcell.cell AND a.vec_id <> {PQ_QUERY_ID}),
        s AS (
          SELECT vec_id,
                 [CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*{PQ_SCALE} + 0.5) AS BIGINT)
                  for i in range(1,65)] AS arr
          FROM embeddings),
        cb AS (SELECT vec_id AS cid, arr AS carr FROM s WHERE vec_id < {PQ_K}),
        q AS (SELECT arr AS qarr FROM s WHERE vec_id = {PQ_QUERY_ID}),
        j AS (SELECT s.vec_id, cb.cid,
               {dists}
              FROM s, cb, q
              WHERE s.vec_id IN (SELECT vec_id FROM members)),
        enc AS (SELECT vec_id, {enc} FROM j GROUP BY vec_id),
        cand AS (SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
                 FROM enc ORDER BY adc_dist, vec_id LIMIT {PQ_CAND}),
        ex AS (
          SELECT c.vec_id, c.adc_dist,
                 CAST(list_sum([(s.arr[i]-q.qarr[i])*(s.arr[i]-q.qarr[i])
                                for i in range(1,65)]) AS BIGINT) AS exact_dist
          FROM cand c JOIN s ON s.vec_id = c.vec_id, q)
        SELECT * FROM ex ORDER BY exact_dist, vec_id LIMIT {PQ_TOPK}
    """


ORACLES["simsearch-ivf-pq"] = _ivf_pq_oracle()


# ---------------------------------------------------------------------------
# Farthest-point sampling (k-means++-style D² seeding / coreset picks)
# ---------------------------------------------------------------------------

FPS_K = 4
FPS_SEED_ID = 0


def farthest_point_sample(emb: DataFrame, k: int = FPS_K) -> DataFrame:
    """Deterministic farthest-point traversal over the embedding set:
    start from vector 0, then repeatedly pick the vector maximizing its
    distance to the chosen set (``argmax_v min_{s∈S} d(v,s)``) — the
    greedy 2-approximation for k-center, used for k-means++-style
    seeding, coreset construction, and maximally-diverse example
    selection.

    Scale shape: per round ONE broadcast of the newest seed vector, a
    row-local fixed-point squared-L2 fold (the ×1000 integer grid —
    distances are exact BIGINTs, so the running min and the argmax are
    integer comparisons), and a 1-row argmax pull (the k-means/MMR
    per-round pattern).  Emits (step, vec_id, d2_to_set) — all
    integers."""
    scaled = _pq_scaled(emb)
    schema = "step int, vec_id bigint, d2_to_set bigint"
    # empty / seedless corpus (the post-pruning shape every production
    # job eventually hits): no traversal, empty result — mirrors the
    # oracle's recursive CTE, whose anchor row vanishes with the seed
    if not scaled.filter(F.col("vec_id") == FPS_SEED_ID).take(1):
        return emb.sparkSession.createDataFrame([], schema)
    rows = [(1, FPS_SEED_ID, 0)]
    mind = None  # DataFrame[vec_id, d]: min squared dist to chosen set
    cur_seed = FPS_SEED_ID
    for step in range(2, k + 1):
        seed_arr = scaled.filter(F.col("vec_id") == cur_seed).select(
            F.col("arr").alias("sarr")
        )
        d_new = (
            scaled.filter(~F.col("vec_id").isin([r[1] for r in rows]))
            .crossJoin(F.broadcast(seed_arr))
            .select(
                "vec_id",
                F.aggregate(
                    F.zip_with("arr", "sarr", lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ).alias("dn"),
            )
        )
        mind = (
            d_new
            if mind is None
            else mind.join(d_new, "vec_id").select(
                "vec_id", F.least("d", "dn").alias("dn")
            )
        ).withColumnRenamed("dn", "d")
        top_rows = mind.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()
        if not top_rows:  # corpus exhausted before k picks
            break
        top = top_rows[0]
        rows.append((step, top.vec_id, top.d))
        cur_seed = top.vec_id
        mind = mind.filter(F.col("vec_id") != cur_seed)
    return emb.sparkSession.createDataFrame(rows, schema)


def q_embedding_farthest_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return farthest_point_sample(load(spark, sf_dir, "embeddings"))


QUERIES["embedding-farthest-points"] = q_embedding_farthest_points


def _fps_oracle(k: int = FPS_K) -> str:
    """Unrolled farthest-point rounds: d{i} carries the running min
    squared distance to the chosen set, s{i} is its integer argmax."""
    d2 = (
        "list_sum([(a.arr[i]-s.arr[i])*(a.arr[i]-s.arr[i])"
        " for i in range(1,65)])"
    )
    ctes = [
        f"""sc AS (
          SELECT vec_id,
                 [CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*{PQ_SCALE} + 0.5) AS BIGINT)
                  for i in range(1,65)] AS arr
          FROM embeddings)""",
        # anchor only when the seed vector exists (empty-corpus parity
        # with the engine's no-traversal early return)
        f"s1 AS (SELECT CAST({FPS_SEED_ID} AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS d"
        f" WHERE EXISTS (SELECT 1 FROM sc WHERE vec_id = {FPS_SEED_ID}))",
        f"""d2_ AS (
          SELECT a.vec_id, CAST({d2} AS BIGINT) AS d
          FROM sc a, (SELECT arr FROM sc WHERE vec_id = {FPS_SEED_ID}) s
          WHERE a.vec_id <> {FPS_SEED_ID})""",
    ]
    prev_d = "d2_"
    sel = ["SELECT CAST(1 AS INTEGER) AS step, vec_id, d AS d2_to_set FROM s1"]
    for i in range(2, k + 1):
        ctes.append(
            f"s{i} AS (SELECT vec_id, d FROM {prev_d} ORDER BY d DESC, vec_id LIMIT 1)"
        )
        sel.append(f"SELECT CAST({i} AS INTEGER) AS step, vec_id, d AS d2_to_set FROM s{i}")
        if i < k:
            nxt = f"d{i + 1}_"
            ctes.append(
                f"""{nxt} AS (
                  SELECT a.vec_id, LEAST(p.d, CAST({d2} AS BIGINT)) AS d
                  FROM sc a
                  JOIN {prev_d} p ON p.vec_id = a.vec_id
                  , (SELECT arr FROM sc WHERE vec_id = (SELECT vec_id FROM s{i})) s
                  WHERE a.vec_id <> (SELECT vec_id FROM s{i}))"""
            )
            prev_d = nxt
    cte_block = ",\n    ".join(ctes)
    final = "\n    UNION ALL ".join(sel)
    return f"""
    WITH {cte_block}
    {final}
    ORDER BY step
"""


ORACLES["embedding-farthest-points"] = _fps_oracle()


NPROBE_LEVELS = (1, 2, 4)
NPROBE_TOPK = 10


def _nprobe_curve(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Recall-vs-nprobe readout against an ``n_cells``-cell IVF index
    (stand-in centroids = the first ``n_cells`` vectors): per probed
    level, candidate count, top-10 overlap with exact search, and
    recall@10.  Shared by ``simsearch-nprobe-curve`` (fixture
    N_CELLS) and ``simsearch-ivf-derived`` (√N-derived cells).

    Scale shape: one broadcast centroid assignment (the IVF pass), one
    exact global top-10 (the TakeOrderedAndProject baseline), then per
    nprobe level a cell-membership semi-join + exact rerank — each
    level touches only its candidate cells.  Recall is an integer
    overlap over k; everything ordering-relevant is the exact decimal
    cosine.

    ``emb`` overrides the corpus (the perturbed eval slice passes its
    deterministically-noised table); default is the sf_dir table."""
    if emb is None:
        emb = load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    # the assignment is consumed once per probed level (×2: member join
    # + candidate count) — checkpoint so the corpus fold runs once, not
    # 2·|levels| times
    assign = ivf_assign(emb, cents).localCheckpoint(eager=False)
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    truth = cosine_topk_exact(emb.filter(F.col("vec_id") != 0), query, k=NPROBE_TOPK)
    # rank cells by query→centroid dot (the probe order)
    qe = _explode_dec(emb.filter(F.col("vec_id") == 0), F.col("vec_id"))
    ce = _explode_dec(cents, F.col("cid")).withColumnRenamed("x", "cx")
    cell_rank = (
        qe.join(F.broadcast(ce), "pos")
        .groupBy("cid")
        .agg(F.sum(F.col("x") * F.col("cx")).cast("double").alias("dot"))
        .select(
            "cid",
            F.row_number()
            .over(Window.orderBy(F.col("dot").desc(), "cid"))
            .alias("cell_rank"),
        )
    )
    out = None
    for nprobe in NPROBE_LEVELS:
        probe_cells = cell_rank.filter(F.col("cell_rank") <= nprobe).select(
            F.col("cid").alias("cell")
        )
        cand_ids = (
            assign.join(F.broadcast(probe_cells), "cell")
            .filter(F.col("vec_id") != 0)
            .select("vec_id")
            # consumed twice per level (rerank join + candidate count)
            .localCheckpoint(eager=False)
        )
        approx = cosine_topk_exact(
            emb.join(cand_ids, "vec_id"), query, k=NPROBE_TOPK
        )
        hit = approx.join(truth.select("vec_id"), "vec_id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        n_cand = cand_ids.agg(F.count(F.lit(1)).alias("n_candidates"))
        level = (
            hit.crossJoin(F.broadcast(n_cand))
            .select(
                F.lit(nprobe).alias("nprobe"),
                "n_candidates",
                "n_hit",
                F.round(F.col("n_hit") / float(NPROBE_TOPK), 6).alias("recall_at_10"),
            )
        )
        out = level if out is None else out.unionByName(level)
    return out


def q_simsearch_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe curve — the tuning readout every IVF
    deployment needs: searching 1, 2, and 4 of the 8 cells, what
    fraction of the TRUE top-10 does the cell-restricted search
    recover?  (``simsearch-recall-eval``'s per-method cousin, here
    sweeping the IVF knob itself.)"""
    return _nprobe_curve(spark, sf_dir, N_CELLS).orderBy("nprobe")


# ---------------------------------------------------------------------------
# ANN index sizing rules (round-5 verdict #7): constants derived from
# corpus size instead of fixture values, with the derivation itself
# cross-engine-proven by `simsearch-ivf-derived`.
# ---------------------------------------------------------------------------

ANN_RECALL_TARGET = 0.8


def derive_ivf_cells(n_corpus: int, lo: int = 4, hi: int = 1 << 20) -> int:
    """IVF cell count from corpus size: the smallest power of two whose
    square covers the corpus — i.e. ``cells ≈ √N`` rounded UP to a
    power of two (the FAISS IVF sizing guideline; power-of-two keeps
    cell ids stable under doubling).  Pure integer arithmetic so the
    DuckDB oracle twin derives bit-identically (no float log2, whose
    half-way rounding differs across engines).  ``lo`` floors tiny
    corpora (a 4-cell index is the smallest useful partition);
    ``hi`` caps runaway sizing at 2^20 cells (a 1T-vector corpus)."""
    cells = lo
    while cells * cells < n_corpus and cells < hi:
        cells <<= 1
    return cells


def derive_nprobe(
    curve: list[tuple[int, float]], target: float = ANN_RECALL_TARGET
) -> int:
    """nprobe from a MEASURED recall curve: the smallest probed level
    whose recall meets ``target``; the deepest probed level when none
    does (the curve is monotone in nprobe, so deeper is the best
    available).  Input: (nprobe, recall) pairs from
    ``simsearch-nprobe-curve`` / :func:`_nprobe_curve`."""
    deepest = None
    for nprobe, recall in sorted(curve):
        if recall >= target:
            return nprobe
        deepest = nprobe
    return deepest


def derive_pq_k(
    n_train: int, per_centroid: int = 39, lo: int = 16, hi: int = 256
) -> int:
    """PQ codebook size from training-set size: the largest power of
    two (within [lo, hi]) that keeps ≥ ``per_centroid`` training
    points per codebook entry — the FAISS k-means training guideline
    (fewer than ~39 points per centroid underfits the codebook).
    256 caps the code at one byte per subspace."""
    k = lo
    while k * 2 * per_centroid <= n_train and k < hi:
        k <<= 1
    return k


def q_simsearch_ivf_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF retrieval with DERIVED index constants — the production
    sizing path: cell count comes from :func:`derive_ivf_cells`
    (√N rounded up to a power of two, computed from a one-column
    count at index-build time, like FAISS training), the recall
    curve is measured per probed level against exact top-10, and
    ``chosen`` marks :func:`derive_nprobe`'s pick (smallest level
    meeting the recall target, deepest otherwise).  The DuckDB twin
    derives the SAME cell count with integer SQL, so a value match
    proves the sizing rule is engine-independent, not a fixture.

    At 100 TB: the sizing count is a metadata-only aggregate, the
    index build is the same broadcast-centroid assignment as
    ``simsearch-ivf``, and cells ≈ √N keeps per-cell populations ≈
    √N — both the assignment fan-out and the per-probe rerank grow
    as √N, the IVF balance point."""
    emb = load(spark, sf_dir, "embeddings")
    # index-build-time sizing pass: one column, metadata-countable
    n_corpus = emb.filter(F.col("vec_id") != 0).count()
    cells = derive_ivf_cells(n_corpus)
    curve = _nprobe_curve(spark, sf_dir, cells)
    sel = curve.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("recall_at_10") >= ANN_RECALL_TARGET, F.col("nprobe")
                )
            ),
            F.max("nprobe"),
        ).alias("ch")
    )
    return (
        curve.crossJoin(F.broadcast(sel))
        .select(
            "nprobe",
            F.lit(cells).cast("bigint").alias("n_cells"),
            "n_candidates",
            "n_hit",
            "recall_at_10",
            (F.col("nprobe") == F.col("ch")).alias("chosen"),
        )
        .orderBy("nprobe")
    )


QUERIES["simsearch-nprobe-curve"] = q_simsearch_nprobe_curve
QUERIES["simsearch-ivf-derived"] = q_simsearch_ivf_derived


def _nprobe_oracle(
    cells_expr: str = str(N_CELLS), extra_ctes: str = "", pert: bool = False
) -> str:
    levels = []
    for nprobe in NPROBE_LEVELS:
        levels.append(f"""
        SELECT {nprobe} AS nprobe,
               (SELECT COUNT(*) FROM assign a
                WHERE a.vec_id <> 0 AND a.cell IN
                  (SELECT cid FROM cell_rank WHERE cell_rank <= {nprobe}))
                 AS n_candidates,
               (SELECT COUNT(*) FROM (
                  SELECT vec_id FROM per
                  WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                   WHERE a.vec_id <> 0 AND a.cell IN
                                     (SELECT cid FROM cell_rank
                                      WHERE cell_rank <= {nprobe}))
                  ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}) apx
                WHERE apx.vec_id IN (SELECT vec_id FROM truth)) AS n_hit,
               ROUND((SELECT COUNT(*) FROM (
                  SELECT vec_id FROM per
                  WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                   WHERE a.vec_id <> 0 AND a.cell IN
                                     (SELECT cid FROM cell_rank
                                      WHERE cell_rank <= {nprobe}))
                  ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}) apx
                WHERE apx.vec_id IN (SELECT vec_id FROM truth))
                / {float(NPROBE_TOPK)}, 6) AS recall_at_10""")
    union = "\n        UNION ALL".join(levels)
    if pert:
        # the perturbed slice: quantize, add the integer hash delta on
        # the scaled grid, round-trip through DOUBLE back to the
        # decimal — bit-identical to the Spark-side _PERT_ARRAY rebuild
        x_expr = (
            "CAST(CAST("
            "CAST(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6))"
            " * 1000000 AS BIGINT) + "
            + _PERT_DELTA.format(i1="t.i")
            + " AS DOUBLE) / 1000000.0 AS DECIMAL(8,6))"
        )
    else:
        x_expr = "CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6))"
    return f"""
    WITH e AS (
      SELECT vec_id, t.i AS pos,
             {x_expr} AS x
      FROM embeddings, generate_series(1, 64) t(i)),{extra_ctes}
    c AS (SELECT vec_id AS cid, pos, x AS cx FROM e WHERE vec_id < {cells_expr}),
    dots AS (
      SELECT e.vec_id, c.cid, CAST(SUM(e.x * c.cx) AS DOUBLE) AS dot
      FROM e JOIN c ON e.pos = c.pos GROUP BY 1, 2),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
        FROM dots) t
      WHERE rn = 1),
    q AS (SELECT pos, x AS qx FROM e WHERE vec_id = 0),
    nq AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q),
    per AS (
      SELECT e.vec_id,
             CAST(SUM(e.x * q.qx) AS DOUBLE)
               / (sqrt(CAST(SUM(e.x * e.x) AS DOUBLE)) * sqrt(nq.nq)) AS cosine
      FROM e JOIN q ON e.pos = q.pos, nq
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id, nq.nq),
    truth AS (
      SELECT vec_id FROM per ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}),
    qcd AS (
      SELECT cid, CAST(SUM(q.qx * c.cx) AS DOUBLE) AS dot
      FROM q JOIN c ON q.pos = c.pos GROUP BY 1),
    cell_rank AS (
      SELECT cid, ROW_NUMBER() OVER (ORDER BY dot DESC, cid) AS cell_rank
      FROM qcd),
    lv AS (
    {union})
    {{final}}
"""


ORACLES["simsearch-nprobe-curve"] = _nprobe_oracle().format(
    final="SELECT nprobe, n_candidates, n_hit, recall_at_10 FROM lv ORDER BY nprobe"
)

# the derived twin: n_cells comes from the SAME integer sizing rule as
# derive_ivf_cells (smallest power of two whose square covers the
# corpus, floored at 4) expressed in pure-integer SQL — a value match
# proves the sizing rule is engine-independent; `chosen` replicates
# derive_nprobe (smallest level meeting the recall target, else the
# deepest probed level).
_DERIVED_CTES = f"""
    der AS (
      SELECT CAST(MIN(pp.p) AS BIGINT) AS n_cells
      FROM (SELECT CAST(POWER(2, g) AS BIGINT) AS p
            FROM generate_series(2, 20) t(g)) pp,
           (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id <> 0) nn
      WHERE pp.p * pp.p >= nn.n),"""

ORACLES["simsearch-ivf-derived"] = _nprobe_oracle(
    cells_expr="(SELECT n_cells FROM der)", extra_ctes=_DERIVED_CTES
).format(
    final=f"""
    , sel AS (
      SELECT COALESCE(
        MIN(CASE WHEN recall_at_10 >= {ANN_RECALL_TARGET} THEN nprobe END),
        MAX(nprobe)) AS ch FROM lv)
    SELECT lv.nprobe, (SELECT n_cells FROM der) AS n_cells,
           lv.n_candidates, lv.n_hit, lv.recall_at_10,
           lv.nprobe = sel.ch AS chosen
    FROM lv, sel
    ORDER BY lv.nprobe"""
)


# ---------------------------------------------------------------------------
# Discriminative ANN recall slice (round-8 verdict #3): the replicated
# big-SF corpora put every query's exact duplicates in its own cell, so
# recall@10 = 1.0 at nprobe = 1 and the curve can't inform tuning.
# This slice adds DETERMINISTIC per-(vec_id, position) noise on the
# DECIMAL(8,6) grid — a pure-integer hash both engines compute
# bit-identically — which breaks duplicate geometry and makes the
# recall/candidate trade real.
# ---------------------------------------------------------------------------

# ±PERT_P grid units of 1e-6 → ±0.12 per coordinate (rms ≈ 0.069, ~10%
# of a uniform(-1,1) 64-dim vector's norm): enough to scatter exact
# duplicates across neighbouring cells without destroying neighbourhood
# structure.  The hash is a Knuth-multiplicative LCG folded through a
# prime modulus — plain integer arithmetic (no engine hash builtin), so
# the DuckDB twin reproduces it exactly.  Perturbed |scaled coord| ≤
# 1.12×10⁶ stays far inside the 2²² float64-exactness envelope.
PERT_P = 120_000
PERT_MOD = 1_000_003
PERT_A = 2_654_435_761
PERT_B = 40_503

# delta(vec_id, pos) with pos 1-BASED; {i1} is the 1-based position expr
_PERT_DELTA = (
    f"((vec_id * {PERT_A} + {{i1}} * {PERT_B}) % {PERT_MOD})"
    f" % {2 * PERT_P + 1} - {PERT_P}"
)

# array rebuild: quantize to the scaled-long grid, add the integer
# delta, return to DOUBLE.  (k + δ)/10⁶ is within 1 ulp of the grid
# point, so the downstream DECIMAL(8,6) re-quantization recovers
# k + δ exactly — both engines round the same double the same way.
_PERT_ARRAY = (
    "transform({col}, (v, i) -> CAST("
    "CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(8,6)) * 1000000 AS BIGINT)"
    " + " + _PERT_DELTA.format(i1="(i + 1)") + " AS DOUBLE) / 1000000.0)"
)


def perturb_embeddings(emb: DataFrame) -> DataFrame:
    """The deterministically-noised eval corpus: same schema, every
    coordinate shifted by the integer hash delta on the decimal grid.
    Row-local ``transform`` — stays in whole-stage codegen, no shuffle,
    no Python."""
    return emb.select(
        "vec_id", F.expr(_PERT_ARRAY.format(col="embedding")).alias("embedding")
    )


def q_simsearch_nprobe_perturbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`simsearch-ivf-derived` over the PERTURBED corpus — the
    discriminative sizing readout: derived √N cells, recall-vs-nprobe
    curve, and `derive_nprobe`'s pick, measured where exact duplicates
    can no longer hide the candidate/recall trade.  Scale shape is
    identical to the derived key (broadcast assignment, per-probe
    semi-join + bounded rerank); the perturbation itself is a free
    row-local map."""
    emb = load(spark, sf_dir, "embeddings")
    n_corpus = emb.filter(F.col("vec_id") != 0).count()
    cells = derive_ivf_cells(n_corpus)
    curve = _nprobe_curve(spark, sf_dir, cells, emb=perturb_embeddings(emb))
    sel = curve.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("recall_at_10") >= ANN_RECALL_TARGET, F.col("nprobe")
                )
            ),
            F.max("nprobe"),
        ).alias("ch")
    )
    return (
        curve.crossJoin(F.broadcast(sel))
        .select(
            "nprobe",
            F.lit(cells).cast("bigint").alias("n_cells"),
            "n_candidates",
            "n_hit",
            "recall_at_10",
            (F.col("nprobe") == F.col("ch")).alias("chosen"),
        )
        .orderBy("nprobe")
    )


QUERIES["simsearch-nprobe-perturbed"] = q_simsearch_nprobe_perturbed

# derived-cells oracle over the perturbed e-CTE; `der` counts the RAW
# corpus (perturbation never changes row counts)
ORACLES["simsearch-nprobe-perturbed"] = _nprobe_oracle(
    cells_expr="(SELECT n_cells FROM der)", extra_ctes=_DERIVED_CTES, pert=True
).format(
    final=f"""
    , sel AS (
      SELECT COALESCE(
        MIN(CASE WHEN recall_at_10 >= {ANN_RECALL_TARGET} THEN nprobe END),
        MAX(nprobe)) AS ch FROM lv)
    SELECT lv.nprobe, (SELECT n_cells FROM der) AS n_cells,
           lv.n_candidates, lv.n_hit, lv.recall_at_10,
           lv.nprobe = sel.ch AS chosen
    FROM lv, sel
    ORDER BY lv.nprobe"""
)


def mislabel_scan(emb: DataFrame, bottom_k: int = 20) -> DataFrame:
    """Label-noise screen: cosine of every vector against its OWN
    label's centroid direction, bottom-k least-aligned vectors — the
    "these rows are probably mislabeled" worklist that precedes any
    supervised training run (Northcutt-style confident-learning lite).

    Same exactness trick as `embedding-centroid-accuracy`: cosine is
    scale-invariant, so the per-label component SUM (exact decimal)
    stands in for the mean and no division happens before the single
    per-vector cosine.  Unlike the accuracy key's all-labels argmax
    grid, the dot restricts to the OWN label via the (label, pos)
    equi-join — |vecs|×64 rows, one groupBy, then a global
    TakeOrderedAndProject cut on (cos asc, vec_id): deterministic
    under any partitioning.
    """
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id", "label", "pos", F.col("xf").cast("double").cast(_DEC).alias("x")
    )
    cent = e.groupBy("label", "pos").agg(F.sum("x").alias("cx"))
    cnorm = cent.groupBy("label").agg(F.sum(F.col("cx") * F.col("cx")).alias("cn"))
    vnorm = e.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("vn"))
    dots = (
        e.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("x") * F.col("cx")).alias("dot"))
    )
    cos = (
        dots.join(F.broadcast(cnorm), "label")
        .join(vnorm, "vec_id")
        .select(
            "vec_id",
            "label",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("cn").cast("double")) * F.sqrt(F.col("vn").cast("double")))
            ).alias("cos"),
        )
    )
    return (
        cos.orderBy(F.col("cos").asc(), F.col("vec_id"))
        .limit(bottom_k)
        .select("vec_id", "label", F.round("cos", 6).alias("own_centroid_cos"))
    )


def q_embedding_mislabel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mislabel_scan(load(spark, sf_dir, "embeddings"))


QUERIES["embedding-mislabel-scan"] = q_embedding_mislabel_scan

ORACLES["embedding-mislabel-scan"] = """
    WITH e AS (
      SELECT vec_id, label, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i)),
    cent AS (
      SELECT label, pos, SUM(x) AS cx FROM e GROUP BY 1, 2),
    cnorm AS (
      SELECT label, CAST(SUM(cx * cx) AS DOUBLE) AS cn FROM cent GROUP BY 1),
    vnorm AS (
      SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS vn FROM e GROUP BY 1),
    dots AS (
      SELECT e.vec_id, e.label, CAST(SUM(e.x * c.cx) AS DOUBLE) AS dot
      FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
      GROUP BY 1, 2),
    cos AS (
      SELECT d.vec_id, d.label,
             d.dot / (sqrt(cn.cn) * sqrt(vn.vn)) AS cos
      FROM dots d
      JOIN cnorm cn ON cn.label = d.label
      JOIN vnorm vn ON vn.vec_id = d.vec_id)
    SELECT vec_id, label, ROUND(cos, 6) AS own_centroid_cos
    FROM cos ORDER BY cos ASC, vec_id LIMIT 20
"""


def quantization_error(emb: DataFrame) -> DataFrame:
    """Reconstruction-error profile of the int8 quantizer
    (`embedding-quantize`): per dimension, the mean and max absolute
    error between the exact scaled component ``x·127`` (DECIMAL — no
    float accumulation) and its stored code — the readout that says
    whether 4× cheaper ANN storage costs recall BEFORE
    `embedding-matryoshka-recall`-style evals re-measure it end to
    end.  A healthy symmetric quantizer shows mean ≈ 0.25 (uniform
    rounding error) on every dimension; clamp-heavy dimensions stick
    out as max = the overflow magnitude.

    Scale shape: one posexplode (row-local) + one 64-group partial
    aggregation; error sums are exact decimals, the mean is the only
    division.
    """
    e = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        "pos", F.col("xf").cast("double").alias("xd")
    )
    q = F.greatest(
        F.least(F.floor(F.col("xd") * 127 + 0.5), F.lit(127.0)), F.lit(-127.0)
    ).cast("int")
    err = F.abs(
        F.col("xd").cast(_DEC) * F.lit(127).cast("decimal(8,0)")
        - F.col("q").cast("decimal(11,6)")
    )
    per = e.withColumn("q", q).select("pos", err.alias("err"))
    return (
        per.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                (F.sum("err") / F.col("n")).cast("double"), 6
            ).alias("mean_abs_err"),
            F.max("err").cast("double").alias("max_abs_err"),
        )
        .select("pos", "n", "mean_abs_err", F.round("max_abs_err", 6).alias("max_abs_err"))
        .orderBy("pos")
    )


def q_embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantization_error(load(spark, sf_dir, "embeddings"))


QUERIES["embedding-quantization-error"] = q_embedding_quantization_error

ORACLES["embedding-quantization-error"] = """
    WITH e AS (
      SELECT t.i - 1 AS pos, CAST(embedding[t.i] AS DOUBLE) AS xd
      FROM embeddings, generate_series(1, 64) t(i)),
    per AS (
      SELECT pos,
             abs(CAST(CAST(xd AS DECIMAL(8,6)) AS DECIMAL(11,6)) * 127
                 - CAST(GREATEST(LEAST(FLOOR(xd * 127 + 0.5), 127), -127)
                        AS DECIMAL(11,6))) AS err
      FROM e)
    SELECT pos, COUNT(*) AS n,
           ROUND(CAST(SUM(err) / COUNT(*) AS DOUBLE), 6) AS mean_abs_err,
           ROUND(CAST(MAX(err) AS DOUBLE), 6) AS max_abs_err
    FROM per GROUP BY pos ORDER BY pos
"""


N_HAMMING_BITS = 64
HAMMING_TOPK = 10


def hamming_signatures(emb: DataFrame, n_bits: int = N_HAMMING_BITS) -> DataFrame:
    """Sign-bit binarization: each embedding collapses to one 64-bit
    integer (bit j set iff component j ≥ 0) — a 32× smaller index
    whose Hamming distance approximates angular distance.  Pure
    row-local integer arithmetic inside codegen; no shuffle at all."""
    # bit 63's place value is Long.MIN_VALUE in two's complement — the
    # additive build stays in-range (partial sums of bits 0..62 are
    # ≤ 2^63−1; adding −2^63 lands in [−2^63, −1]), ANSI-safe.
    def _w(j: int) -> int:
        return (1 << j) if j < 63 else -(1 << 63)

    bits = sum(
        (F.when(F.col("embedding").getItem(j) >= 0, F.lit(_w(j)).cast("bigint"))
         .otherwise(F.lit(0).cast("bigint")))
        for j in range(n_bits)
    )
    return emb.select("vec_id", bits.alias("sig"))


def hamming_topk(emb: DataFrame, query_vec_id: int = 0, k: int = HAMMING_TOPK) -> DataFrame:
    """Binarized ANN baseline: top-k nearest vectors to a query by
    Hamming distance over the sign-bit signatures —
    ``bit_count(sig XOR qsig)`` is exact integer arithmetic, so unlike
    float cosine the ranking is bit-identical in any engine and under
    any partitioning (ties broken by vec_id).

    This is the cheapest member of the compression-ANN family
    (`embedding-quantize` int8 → `simsearch-pq-adc` → this): 1 bit per
    dimension, distance = one XOR + popcount per row, and the scan is
    a single projection + `TakeOrderedAndProject` — no join, no
    groupBy, nothing but the broadcast 1-row query signature.
    """
    sigs = hamming_signatures(emb)
    q = sigs.filter(F.col("vec_id") == query_vec_id).select(
        F.col("sig").alias("qsig")
    )
    return (
        sigs.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.bit_count(F.expr("sig ^ qsig")).cast("int").alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(k)
    )


def q_simsearch_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hamming_topk(load(spark, sf_dir, "embeddings"))


QUERIES["simsearch-hamming-topk"] = q_simsearch_hamming

_HAMMING_BITS_SQL = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] >= 0 THEN CAST({(1 << j) if j < 63 else -(1 << 63)} AS BIGINT) ELSE 0 END)"
    for j in range(N_HAMMING_BITS)
)

ORACLES["simsearch-hamming-topk"] = f"""
    WITH sigs AS (
      SELECT vec_id, {_HAMMING_BITS_SQL} AS sig FROM embeddings),
    q AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)
    SELECT vec_id,
           CAST(bit_count(xor(sig, qsig)) AS INTEGER) AS hamming
    FROM sigs, q WHERE vec_id <> 0
    ORDER BY hamming, vec_id LIMIT {HAMMING_TOPK}
"""


def q_simsearch_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 1-bit Hamming index (`simsearch-hamming-topk`)
    vs exact cosine, per query — the eval that prices the 32×
    compression: sign-bit signatures keep most of the neighborhood
    structure (random-hyperplane LSH theory: P[bit agrees] =
    1 − θ/π), and this key MEASURES how much survives on this corpus
    instead of citing the theorem.

    Scale shape: the exact side reuses the batched k-NN join's
    one-shuffle dot reduction; the Hamming side is a projection + one
    rank window over Q×|corpus| integer distances (each row ONE
    xor+popcount — no 64-term dot); the recall join is 2·Q·k rows."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    q_n, k = 8, 5
    queries = emb.filter(F.col("vec_id") < q_n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= q_n)
    exact = knn_join_exact(corpus, queries, k=k).select("query_id", "vec_id")
    sigs = hamming_signatures(corpus)
    qsigs = hamming_signatures(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding"))
    ).select(F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig"))
    dists = sigs.crossJoin(F.broadcast(qsigs)).select(
        "query_id", "vec_id", F.bit_count(F.expr("sig ^ qsig")).cast("int").alias("h")
    )
    w = W.partitionBy("query_id").orderBy("h", "vec_id")
    approx = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    hits = approx.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


QUERIES["simsearch-hamming-recall"] = q_simsearch_hamming_recall

ORACLES["simsearch-hamming-recall"] = f"""
    WITH allv AS (
      SELECT vec_id, t.i AS pos,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
      FROM embeddings, generate_series(1, 64) t(i)),
    q AS (SELECT vec_id AS query_id, pos, x AS qx FROM allv WHERE vec_id < 8),
    e AS (SELECT vec_id, pos, x FROM allv WHERE vec_id >= 8),
    ne AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS ne FROM e GROUP BY 1),
    nq AS (SELECT query_id, CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q GROUP BY 1),
    d AS (
      SELECT q.query_id, e.vec_id, CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot
      FROM e JOIN q ON e.pos = q.pos GROUP BY 1, 2),
    s AS (
      SELECT d.query_id, d.vec_id,
             d.dot / (sqrt(ne.ne) * sqrt(nq.nq)) AS cosine
      FROM d JOIN ne ON ne.vec_id = d.vec_id
             JOIN nq ON nq.query_id = d.query_id),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM s) WHERE rn <= 5),
    sigs AS (
      SELECT vec_id, {_HAMMING_BITS_SQL} AS sig FROM embeddings),
    dist AS (
      SELECT sq.vec_id AS query_id, se.vec_id,
             bit_count(xor(se.sig, sq.sig)) AS h
      FROM sigs sq JOIN sigs se ON se.vec_id >= 8
      WHERE sq.vec_id < 8),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY h, vec_id) AS rn
        FROM dist) WHERE rn <= 5),
    hits AS (
      SELECT a.query_id, COUNT(*) AS n_hit
      FROM approx a JOIN exact x
        ON x.query_id = a.query_id AND x.vec_id = a.vec_id
      GROUP BY 1)
    SELECT qq.query_id,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / 5.0, 6) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM q) qq
    LEFT JOIN hits h ON h.query_id = qq.query_id
    ORDER BY qq.query_id
"""


def _emb_staged_common(n_chunks: int = 8) -> list[str]:
    """Staged big-SF twin of ``dedup-embedding-bucketed``: the registry
    oracle's candidate-pair dot join is ~13-32M pairs × 64 positions at
    sf10 (~2G join rows) — DuckDB spilled >60 GB of temp and died
    (round-7 sweep).  Same semantics, three structural changes for the
    verifier's single-node execution model:

    1. exact-duplicate COLLAPSE on the embedding array (sf10 replicates
       vectors ~1.6×; bucket, norm, and pairwise cosine are functions
       of the vectors alone, so member pairs inherit the rep pair's
       cosine and intra-group pairs score ``nn/(sqrt(nn)*sqrt(nn))`` —
       the exact expression both engines evaluate for an identical
       pair, NOT a literal 1.0);
    2. every intermediate materialized ONCE into a temp table (the
       graph-oracle pattern);
    3. the pair-dot join processed in ``n_chunks`` hash-disjoint
       chunks (``va % n_chunks``), bounding peak temp to ~1/n_chunks
       of the monolithic join.
    """
    stmts = [
        "DROP TABLE IF EXISTS eb_grp",
        f"""CREATE TEMP TABLE eb_grp AS
        SELECT MIN(vec_id) AS rep_vec, COUNT(*) AS n_members, embedding
        FROM embeddings GROUP BY embedding""",
        "DROP TABLE IF EXISTS eb_map",
        """CREATE TEMP TABLE eb_map AS
        SELECT e.vec_id, g.rep_vec
        FROM embeddings e
        JOIN eb_grp g ON g.embedding = e.embedding""",
        "DROP TABLE IF EXISTS eb_s",
        f"""CREATE TEMP TABLE eb_s AS
        SELECT rep_vec AS vec_id, {_SIGN_BUCKET_SQL} AS bucket FROM eb_grp""",
        "DROP TABLE IF EXISTS eb_e",
        """CREATE TEMP TABLE eb_e AS
        SELECT rep_vec AS vec_id, t.i AS pos,
               CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(8,6)) AS x
        FROM eb_grp, generate_series(1, 64) t(i)""",
        "DROP TABLE IF EXISTS eb_n",
        """CREATE TEMP TABLE eb_n AS
        SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS nn FROM eb_e GROUP BY 1""",
        "DROP TABLE IF EXISTS eb_cand",
        """CREATE TEMP TABLE eb_cand AS
        SELECT sa.vec_id AS va, sb.vec_id AS vb
        FROM eb_s sa JOIN eb_s sb
          ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id""",
        "DROP TABLE IF EXISTS eb_d",
        """CREATE TEMP TABLE eb_d
        (va BIGINT, vb BIGINT, dot DOUBLE)""",
    ]
    for i in range(n_chunks):
        stmts.append(
            f"""INSERT INTO eb_d
            SELECT c.va, c.vb, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
            FROM eb_cand c
            JOIN eb_e a ON a.vec_id = c.va
            JOIN eb_e b ON b.vec_id = c.vb AND b.pos = a.pos
            WHERE c.va % {n_chunks} = {i}
            GROUP BY 1, 2"""
        )
    stmts += [
        "DROP TABLE IF EXISTS eb_pass",
        f"""CREATE TEMP TABLE eb_pass AS
        SELECT d.va, d.vb, d.dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
        FROM eb_d d
        JOIN eb_n na ON na.vec_id = d.va
        JOIN eb_n nb ON nb.vec_id = d.vb
        WHERE d.dot / (sqrt(na.nn) * sqrt(nb.nn)) >= {COSINE_DUP_THRESHOLD}""",
        # intra-group member pairs pass iff the identical-pair cosine
        # expression (NOT a literal 1.0 — sqrt(nn)*sqrt(nn) != nn in
        # IEEE) clears the threshold, evaluated exactly as both engines
        # evaluate it for a member pair
        "DROP TABLE IF EXISTS eb_intra_ok",
        f"""CREATE TEMP TABLE eb_intra_ok AS
        SELECT g.rep_vec, n.nn / (sqrt(n.nn) * sqrt(n.nn)) AS cosine
        FROM eb_grp g JOIN eb_n n ON n.vec_id = g.rep_vec
        WHERE g.n_members >= 2
          AND n.nn / (sqrt(n.nn) * sqrt(n.nn)) >= {COSINE_DUP_THRESHOLD}""",
    ]
    return stmts


def _emb_bucketed_oracle_staged(n_chunks: int = 8) -> str:
    stmts = _emb_staged_common(n_chunks)
    stmts.append(
        """SELECT LEAST(ma.vec_id, mb.vec_id) AS va,
               GREATEST(ma.vec_id, mb.vec_id) AS vb,
               r.cosine
        FROM eb_pass r
        JOIN eb_map ma ON ma.rep_vec = r.va
        JOIN eb_map mb ON mb.rep_vec = r.vb
        UNION ALL
        SELECT a.vec_id AS va, b.vec_id AS vb, i.cosine
        FROM eb_intra_ok i
        JOIN eb_map a ON a.rep_vec = i.rep_vec
        JOIN eb_map b ON b.rep_vec = i.rep_vec AND a.vec_id < b.vec_id"""
    )
    return ";\n".join(stmts)


def _ivf_staged_common(
    cells_sql: str, prefix: str, pert: bool = False
) -> list[str]:
    """Staged big-SF IVF scaffolding: the registry oracles assign cells
    through a (vectors × 64) ⋈ (cells × 64) position join — 2×10¹¹
    grouped rows at sf10's derived 2048 cells, which spilled DuckDB's
    temp disk to death (round-8 sweep).  Same semantics, three
    structural changes:

    1. vectors become SCALED-LONG lists once (DECIMAL(8,6)·10⁶ per
       coordinate — a 64-dim dot is ≤ 64·(5×10⁵)² < 2⁵³, so
       ``list_dot_product`` over BIGINT lists is EXACT and its
       double→int conversions are lossless; dividing by 10¹² rounds
       once, exactly like the registry's DECIMAL→DOUBLE cast);
    2. assignment is one streaming cross-join aggregate —
       ``arg_max(cid, dot·2²¹ + (2²¹−1−cid))`` over a HUGEINT key
       encodes the registry's (dot DESC, cid ASC) tie-break without
       materializing per-pair rows (2²¹ > the 2²⁰ cell-count cap);
    3. every multiply-referenced intermediate is materialized ONCE
       into a temp table (the graph-oracle pattern).
    """
    if pert:
        # the perturbed slice adds the integer hash delta directly in
        # the scaled-long domain (DuckDB lambda index i is 1-based,
        # matching the registry oracle's t.i)
        sl = (
            "list_transform(embedding, (v, i) -> CAST(CAST(CAST(v AS DOUBLE)"
            " AS DECIMAL(8,6)) * 1000000 AS BIGINT) + "
            + _PERT_DELTA.format(i1="i")
            + ")"
        )
    else:
        sl = (
            "list_transform(embedding, v -> CAST(CAST(CAST(v AS DOUBLE)"
            " AS DECIMAL(8,6)) * 1000000 AS BIGINT))"
        )
    p = prefix
    return [
        f"DROP TABLE IF EXISTS {p}_el",
        f"""CREATE TEMP TABLE {p}_el AS
        SELECT vec_id, {sl} AS xl FROM embeddings""",
        f"DROP TABLE IF EXISTS {p}_cl",
        f"""CREATE TEMP TABLE {p}_cl AS
        SELECT vec_id AS cid, xl AS cs FROM {p}_el WHERE vec_id < {cells_sql}""",
        f"DROP TABLE IF EXISTS {p}_assign",
        f"""CREATE TEMP TABLE {p}_assign AS
        SELECT e.vec_id,
               arg_max(c.cid,
                       CAST(list_dot_product(e.xl, c.cs) AS HUGEINT) * 2097152
                         + (2097151 - c.cid)) AS cell
        FROM {p}_el e CROSS JOIN {p}_cl c
        GROUP BY e.vec_id""",
        f"DROP TABLE IF EXISTS {p}_q",
        f"""CREATE TEMP TABLE {p}_q AS
        SELECT xl AS qxl,
               CAST(list_dot_product(xl, xl) AS DOUBLE) / 1e12 AS nq
        FROM {p}_el WHERE vec_id = 0""",
        f"DROP TABLE IF EXISTS {p}_per",
        f"""CREATE TEMP TABLE {p}_per AS
        SELECT e.vec_id,
               (CAST(list_dot_product(e.xl, q.qxl) AS DOUBLE) / 1e12)
                 / (sqrt(CAST(list_dot_product(e.xl, e.xl) AS DOUBLE) / 1e12)
                    * sqrt(q.nq)) AS cosine
        FROM {p}_el e, {p}_q q
        WHERE e.vec_id <> 0""",
        f"DROP TABLE IF EXISTS {p}_truth",
        f"""CREATE TEMP TABLE {p}_truth AS
        SELECT vec_id FROM {p}_per
        ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}""",
        f"DROP TABLE IF EXISTS {p}_cell_rank",
        f"""CREATE TEMP TABLE {p}_cell_rank AS
        SELECT cid, ROW_NUMBER() OVER (ORDER BY dot DESC, cid) AS cell_rank
        FROM (SELECT c.cid,
                     CAST(list_dot_product(q.qxl, c.cs) AS DOUBLE) / 1e12 AS dot
              FROM {p}_q q, {p}_cl c)""",
    ]


def _ivf_nprobe_levels_staged(prefix: str) -> str:
    p = prefix
    levels = []
    for nprobe in NPROBE_LEVELS:
        levels.append(f"""
        SELECT {nprobe} AS nprobe,
               (SELECT COUNT(*) FROM {p}_assign a
                WHERE a.vec_id <> 0 AND a.cell IN
                  (SELECT cid FROM {p}_cell_rank WHERE cell_rank <= {nprobe}))
                 AS n_candidates,
               (SELECT COUNT(*) FROM (
                  SELECT vec_id FROM {p}_per
                  WHERE vec_id IN (SELECT a.vec_id FROM {p}_assign a
                                   WHERE a.vec_id <> 0 AND a.cell IN
                                     (SELECT cid FROM {p}_cell_rank
                                      WHERE cell_rank <= {nprobe}))
                  ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}) apx
                WHERE apx.vec_id IN (SELECT vec_id FROM {p}_truth)) AS n_hit,
               ROUND((SELECT COUNT(*) FROM (
                  SELECT vec_id FROM {p}_per
                  WHERE vec_id IN (SELECT a.vec_id FROM {p}_assign a
                                   WHERE a.vec_id <> 0 AND a.cell IN
                                     (SELECT cid FROM {p}_cell_rank
                                      WHERE cell_rank <= {nprobe}))
                  ORDER BY cosine DESC, vec_id LIMIT {NPROBE_TOPK}) apx
                WHERE apx.vec_id IN (SELECT vec_id FROM {p}_truth))
                / {float(NPROBE_TOPK)}, 6) AS recall_at_10""")
    return "\n        UNION ALL".join(levels)


def _ivf_derived_oracle_staged() -> str:
    stmts = [
        "DROP TABLE IF EXISTS ivd_der",
        """CREATE TEMP TABLE ivd_der AS
        SELECT CAST(MIN(pp.p) AS BIGINT) AS n_cells
        FROM (SELECT CAST(POWER(2, g) AS BIGINT) AS p
              FROM generate_series(2, 20) t(g)) pp,
             (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id <> 0) nn
        WHERE pp.p * pp.p >= nn.n""",
    ]
    stmts += _ivf_staged_common("(SELECT n_cells FROM ivd_der)", "ivd")
    stmts.append(f"""
        WITH lv AS (
        {_ivf_nprobe_levels_staged("ivd")})
        , sel AS (
          SELECT COALESCE(
            MIN(CASE WHEN recall_at_10 >= {ANN_RECALL_TARGET} THEN nprobe END),
            MAX(nprobe)) AS ch FROM lv)
        SELECT lv.nprobe, (SELECT n_cells FROM ivd_der) AS n_cells,
               lv.n_candidates, lv.n_hit, lv.recall_at_10,
               lv.nprobe = sel.ch AS chosen
        FROM lv, sel
        ORDER BY lv.nprobe""")
    return ";\n".join(stmts)


def _nprobe_curve_oracle_staged() -> str:
    stmts = _ivf_staged_common(str(N_CELLS), "ivc")
    stmts.append(f"""
        WITH lv AS (
        {_ivf_nprobe_levels_staged("ivc")})
        SELECT nprobe, n_candidates, n_hit, recall_at_10
        FROM lv ORDER BY nprobe""")
    return ";\n".join(stmts)


def _ivf_perturbed_oracle_staged() -> str:
    """`simsearch-nprobe-perturbed`'s big-SF twin: the derived-cells
    staged scaffold over the PERTURBED scaled-long lists.  Proven ≡ the
    registry oracle at small SF by
    ``test_nprobe_perturbed_staged_twin_matches_registry``."""
    stmts = [
        "DROP TABLE IF EXISTS ivp_der",
        """CREATE TEMP TABLE ivp_der AS
        SELECT CAST(MIN(pp.p) AS BIGINT) AS n_cells
        FROM (SELECT CAST(POWER(2, g) AS BIGINT) AS p
              FROM generate_series(2, 20) t(g)) pp,
             (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id <> 0) nn
        WHERE pp.p * pp.p >= nn.n""",
    ]
    stmts += _ivf_staged_common("(SELECT n_cells FROM ivp_der)", "ivp", pert=True)
    stmts.append(f"""
        WITH lv AS (
        {_ivf_nprobe_levels_staged("ivp")})
        , sel AS (
          SELECT COALESCE(
            MIN(CASE WHEN recall_at_10 >= {ANN_RECALL_TARGET} THEN nprobe END),
            MAX(nprobe)) AS ch FROM lv)
        SELECT lv.nprobe, (SELECT n_cells FROM ivp_der) AS n_cells,
               lv.n_candidates, lv.n_hit, lv.recall_at_10,
               lv.nprobe = sel.ch AS chosen
        FROM lv, sel
        ORDER BY lv.nprobe""")
    return ";\n".join(stmts)


ORACLES_BIG = {
    "dedup-embedding-bucketed": _emb_bucketed_oracle_staged(),
    "simsearch-ivf-derived": _ivf_derived_oracle_staged(),
    "simsearch-nprobe-curve": _nprobe_curve_oracle_staged(),
    "simsearch-nprobe-perturbed": _ivf_perturbed_oracle_staged(),
    "simsearch-mmr-rerank": _mmr_oracle_staged(),
}
