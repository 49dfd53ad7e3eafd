"""Deduplication operators for training-data pipelines (SURVEY.md §2.D).

Four tiers, all shuffle-architected for 100 TB:

- **exact** — one hash-partitioned groupBy on the text (at scale:
  groupBy on ``xxhash64(text)`` so the shuffle moves 8-byte keys, with
  an equality re-check inside each group to squash hash collisions).
- **normalized** — same, over a canonicalized form.
- **MinHash + LSH** — shingle → k minhashes → band → bucket-join.
  The only shuffles are the per-doc signature aggregation and the
  band-bucket self-join; bucket sizes are bounded by LSH design, so the
  join never degenerates into an all-pairs product.
- **SimHash** — per-token hash bit-votes aggregated per doc; identical
  16-bit signatures form near-dup groups.

Hash portability: MinHash signatures hash with **md5 hex strings**
(identical in Spark and DuckDB; lexicographic min on the hex = numeric
min on the 128-bit value), so ``bench.py``'s q5 times the
oracle-checked ``dedup-minhash-pairs`` key itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandasqlite_spark.functions.text import tokens
from pandasqlite_spark.operators.common import load

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = N_HASHES // N_BANDS = 2

_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"


# ---------------------------------------------------------------------------
# exact & normalized
# ---------------------------------------------------------------------------


def normalize_text(col: str = "text"):
    """lower → strip non-alphanumerics → collapse whitespace → trim."""
    c = F.lower(F.col(col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


SNM_WINDOW = 3  # neighbors compared per side
SNM_KEY_LEN = 16


def sorted_neighborhood_pairs(docs: DataFrame, w: int = SNM_WINDOW) -> DataFrame:
    """Sorted-neighborhood candidate generation — the OTHER classic
    entity-resolution blocking strategy (vs LSH banding): sort the
    corpus by a normalized blocking key and compare each record only to
    its ``w`` sort-neighbors, so candidates are O(n·w), not O(n²).

    Spark shape: one rank over the sort key, then ``w`` lag columns
    unpivoted into (doc_a, doc_b) pairs — no self-join at all.  The
    global sort is the METHOD's cost (production uses
    repartitionByRange with boundary overlap of w rows, the documented
    multi-pass variant); candidates then flow through the same exact
    Jaccard verification as the LSH path."""
    keyed = docs.select(
        "doc_id", F.substring(normalize_text(), 1, SNM_KEY_LEN).alias("k")
    )
    wr = Window.orderBy("k", "doc_id")
    ranked = keyed.withColumn("rn", F.row_number().over(wr))
    for j in range(1, w + 1):
        ranked = ranked.withColumn(f"nb{j}", F.lag("doc_id", j).over(wr))
    pairs = None
    for j in range(1, w + 1):
        p = ranked.filter(F.col(f"nb{j}").isNotNull()).select(
            F.least(F.col("doc_id"), F.col(f"nb{j}")).alias("doc_a"),
            F.greatest(F.col("doc_id"), F.col(f"nb{j}")).alias("doc_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNM candidates → exact Jaccard → near-dup pairs at ≥ 0.5, the
    full sorted-neighborhood dedup path."""
    docs = load(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(docs)
    j = jaccard_verify(docs, pairs)
    return (
        j.filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def dedup_exact(df: DataFrame, key) -> DataFrame:
    """Deterministic exact dedup: keep the lowest doc_id per key.
    (``dropDuplicates`` keeps an *arbitrary* row — unacceptable for a
    reproducible pipeline.)"""
    return df.groupBy(key.alias("k")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = dedup_exact(d, F.col("text"))
    return out.select(F.md5("k").alias("text_hash"), "keep_id", "n_copies")


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = dedup_exact(d, normalize_text())
    return out.select(F.md5("k").alias("text_hash"), "keep_id", "n_copies")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc.  Docs shorter than n
    tokens have no shingles and drop out (consistent with the oracle)."""
    t = tokens()
    return (
        df.select("doc_id", t.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(toks)-{n}),"
                    f" i -> concat_ws(' ', {', '.join(f'toks[i+{j}]' for j in range(n))})))"
                )
            ).alias("sh"),
        )
    )


def minhash_signatures(df: DataFrame, k: int = N_HASHES) -> DataFrame:
    """k-minhash signature per doc: min over salted md5 hex hashes of
    shingles (cross-engine reproducible, oracle-checkable)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("sh")))).alias(f"m{i}")
        for i in range(k)
    ]
    return shingles(df).groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame, bands: int = N_BANDS, k: int = N_HASHES) -> DataFrame:
    """Unpivot the signature into (doc_id, band, band_sig) buckets."""
    r = k // bands
    exprs = []
    for b in range(bands):
        concat = ", ".join(f"cast(m{b * r + j} as string)" for j in range(r))
        exprs.append(f"{b}, md5(concat({concat}))")
    stack = f"stack({bands}, {', '.join(exprs)}) as (band, band_sig)"
    return sig.selectExpr("doc_id", stack)


def candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """Self-join on (band, band_sig) — the LSH bucket join.  At scale
    this is a shuffle on the bucket key; skewed mega-buckets are handled
    by AQE skew-join splitting."""
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _rep_lsh_pairs(rep_frame: DataFrame) -> DataFrame:
    """LSH candidate pairs over the distinct-text representatives —
    shared by every collapsed-spine key.  Factored for one definition
    (and so harnesses can wrap it)."""
    return candidate_pairs(lsh_bands(minhash_signatures(rep_frame)))


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, xxhash64(shingle)) — the 16 B/row proxy the verify
    joins run on.  Factored out so the verify stages share one
    definition (and so harnesses can wrap it)."""
    return shingles(docs).select("doc_id", F.xxhash64("sh").alias("sh"))


def jaccard_verify(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard for candidate pairs — the verification stage
    after LSH: cheap because it only touches candidate pairs, never the
    all-pairs product.  One shuffle on doc_id (sizes), one on the pair.

    The pair-expansion join carries one row per (pair, shingle); the
    shingle travels as its xxhash64 (8 bytes) instead of the ~30-byte
    string — intersection counts are identical because shingles are
    DISTINCT per doc and a within-pair 64-bit collision needs ~2⁶⁴
    draws from the ~10² shingles two docs union to (P < 1e-14).  At
    sf10 this cut the verify shuffle ~3× on top of the exact-collapse
    in :func:`exact_text_groups`."""
    sh = _shingle_hashes(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pairs.join(a, "doc_a").join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return j.select("doc_a", "doc_b", jac.alias("jaccard"))


def containment_verify(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact 3-gram *containment* for candidate pairs:
    ``|A ∩ B| / min(|A|, |B|)`` — the asymmetric companion to Jaccard.
    A short document fully embedded in a long one scores containment
    ≈ 1 while its Jaccard stays low (the union is dominated by the long
    doc), so threshold-on-Jaccard dedup misses exactly the
    quote/boilerplate/subset duplicates a training corpus cares about.

    Same scale shape as :func:`jaccard_verify`: one groupBy for sizes,
    one shingle-equi-join restricted to LSH candidate pairs — never the
    all-pairs product.  The ratio divides identical ints in both
    engines (single IEEE division, no aggregation of doubles).
    Shingles travel as xxhash64 like :func:`jaccard_verify`."""
    sh = _shingle_hashes(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pairs.join(a, "doc_a").join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
    )
    contain = F.col("n_inter").cast("double") / F.least("n_a", "n_b")
    return j.select("doc_a", "doc_b", "n_inter", contain.alias("containment"))


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed spine (see :func:`exact_text_groups`): containment is
    verified over distinct texts; member pairs inherit the rep pair's
    (n_inter, containment), intra-group pairs self-score as
    (group shingle count, 1.0) — identical texts fully contain each
    other."""
    d = load(spark, sf_dir, "documents")
    skinny, rep_frame = text_group_spine(d)
    pairs = _rep_lsh_pairs(rep_frame)
    ver = containment_verify(rep_frame, pairs)
    sz = (
        shingles(rep_frame)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .select(F.col("doc_id").alias("rep_doc"), "n_sh")
    )
    return expand_member_pairs(
        skinny.join(sz, "rep_doc"),
        ver,
        {"n_inter": F.col("n_sh"), "containment": F.lit(1.0)},
        ["n_inter", "containment"],
    )


def q_dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed spine: Jaccard verified over distinct texts, member
    pairs inherit (texts are the score's only input), intra-group
    pairs are exactly 1.0."""
    m, _, ver = rep_candidates(load(spark, sf_dir, "documents"))
    return expand_member_pairs(m, ver, {"jaccard": F.lit(1.0)}, ["jaccard"])


def q_dedup_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap leakage readout: the verified near-dup pairs
    aggregated by (source_a, source_b) — WITHIN-source pairs are
    ordinary redundancy, CROSS-source pairs are the contamination
    signal (mirrored content between crawls, or train/eval bleed when
    sources are split boundaries).  Two broadcast-joined source lookups
    onto the candidate-only pair set, one bounded |sources|² groupBy.
    Pairs come from the collapsed spine (member-expanded, so a group's
    members keep their OWN sources in the aggregation)."""
    d = load(spark, sf_dir, "documents")
    m, rep_near = near_rep_pairs(d)
    near = expand_member_pairs(m, rep_near, {}, [])
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        near.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).alias("cross_source"),
        )
        .groupBy("source_a", "source_b", "cross_source")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return minhash_signatures(d)


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return candidate_pairs(lsh_bands(minhash_signatures(d)))


def text_group_spine(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(skinny member map, rep_frame) — the exact-collapse spine with
    its round-10 lineage cut.

    ``skinny`` is (doc_id, rep_doc, n_members), lazily
    ``localCheckpoint``-ed: ~24 B/doc, so the groupBy-on-text
    derivation (TWO full-text exchanges: the aggregation and the
    member join) executes ONCE per query instead of once per plan
    branch — the jaccard-verify/containment/near/threshold-curve plans
    re-derived it up to dozens of times (48–132 parquet scans/plan at
    r10 start).  The document TEXT never enters the checkpoint: the
    heavy bytes stay on live scan lineage (guide §8 — persist the
    lightweight proxy, move heavy bytes only when consumed).

    ``rep_frame`` is (doc_id, text) for group representatives,
    rebuilt per consumer as scan ⋈ checkpointed rep ids (a doc_id
    equi-join, broadcast at bench SFs) — one scan per consumer where
    the old form paid scan + groupBy(text) + text-keyed join per
    consumer.

    The doc_id reattach join is exact because ``doc_id`` is the
    documents table's primary key at every SF AND in the nulls twin
    (gen_nulls.py keeps key columns non-null; uniqueness is a
    generator invariant) — each elig row matches exactly one skinny
    row, reproducing the old text-keyed join bit-for-bit.

    Session-lifetime note: the checkpoint materializes on the first
    action over ``skinny`` and its blocks then live in executor storage
    until the session ends.  Each call pins a fresh one (so does every
    ``exact_text_groups`` call), repeated calls in a long-lived session
    accumulate (bounded: ~24 B/doc per call), and localCheckpoint is not
    fault-tolerant to executor loss.  Acceptable for the
    one-query-per-invocation driver contract; a resident service should
    unpersist the checkpoint after materializing its result."""
    elig = docs.filter(F.size(tokens()) >= 3).select("doc_id", "text")
    reps = elig.groupBy("text").agg(
        F.min("doc_id").alias("rep_doc"), F.count(F.lit(1)).alias("n_members")
    )
    skinny = (
        elig.join(reps, "text")
        .select("doc_id", "rep_doc", "n_members")
        .localCheckpoint(eager=False)
    )
    rep_ids = skinny.filter(F.col("doc_id") == F.col("rep_doc")).select("doc_id")
    rep_frame = elig.join(rep_ids, "doc_id")
    return skinny, rep_frame


def exact_text_groups(docs: DataFrame) -> DataFrame:
    """Exact-duplicate collapse — the step EVERY production near-dup
    pipeline runs FIRST: group shingle-eligible docs (≥3 tokens, the
    same eligibility gate as :func:`shingles`) by their verbatim text,
    keep the min doc_id as the group representative.  Returns one row
    per doc: (text, doc_id, rep_doc, n_members).

    Why it is the scale fix and not an approximation: LSH banding and
    Jaccard are pure functions of the TEXT, so every member of an
    exact group has its representative's buckets and its
    representative's pair-Jaccards.  A 100-way verbatim cluster
    contributes 100·99/2 ≈ 5k candidate pairs to the verify join in
    the uncollapsed plan (the sf10 profile: 25M pairs × ~50 shingle
    rows each spilled 77 GB of shuffle before dying); collapsed, it
    contributes ONE doc.  At sf10 this halves the corpus (500k docs →
    254,592 distinct texts) and removes every intra-group pair from
    the quadratic stage.  Grouping is by the raw text (bit-exact); at
    100 TB the group key would be a 128-bit content hash, same plan.

    Since round 10 this is a thin view over :func:`text_group_spine`
    (one checkpointed derivation per query); spine-internal callers
    use the spine directly and never re-attach the text."""
    skinny, _ = text_group_spine(docs)
    elig = docs.filter(F.size(tokens()) >= 3).select("doc_id", "text")
    return elig.join(skinny, "doc_id").select(
        "text", "doc_id", "rep_doc", "n_members"
    )


def rep_candidates(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(skinny members, rep_frame, rep-level verified candidates): LSH +
    exact Jaccard over DISTINCT TEXTS only — the shared collapsed spine
    of every raw-corpus candidate+verify key.  The member map is the
    checkpointed skinny form (text on live lineage only)."""
    skinny, rep_frame = text_group_spine(docs)
    pairs = _rep_lsh_pairs(rep_frame)
    return skinny, rep_frame, jaccard_verify(rep_frame, pairs)


def expand_member_pairs(
    m: DataFrame, rep_scored: DataFrame, intra_cols: dict, score_cols: list[str]
) -> DataFrame:
    """Expand rep-level scored pairs back to member level, exactly
    reproducing the uncollapsed output: cross-group member pairs
    inherit their representative pair's scores (Jaccard/containment
    are functions of the TEXT); intra-group pairs (identical texts,
    always LSH candidates) get the closed-form self-scores in
    ``intra_cols``.  Both expansion joins are output-sized — nothing
    larger than the result ever materializes."""
    members = m.select("rep_doc", "doc_id")
    cross = (
        rep_scored.join(
            members.select(F.col("rep_doc").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            members.select(F.col("rep_doc").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            *score_cols,
        )
    )
    # intra side: keep m's non-text context columns (e.g. a pre-joined
    # per-group shingle count) so the closed-form self-score
    # expressions in ``intra_cols`` can reference them
    keep = [c for c in m.columns if c not in ("doc_id", "text")]
    intra = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.rep_doc") == F.col("y.rep_doc"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *[F.col(f"x.{c}").alias(c) for c in keep],
        )
    )
    for c in score_cols:
        intra = intra.withColumn(c, intra_cols[c])
    return cross.unionByName(intra.select("doc_a", "doc_b", *score_cols))


def near_rep_pairs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(members, rep-level near-dup pairs ≥ 0.5 Jaccard): the
    thresholded form of :func:`rep_candidates` — shared spine of
    `dedup-near` / `dedup-connected-components` /
    `dedup-cluster-representative`."""
    m, _, ver = rep_candidates(docs)
    near = ver.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    return m, near


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end near-dup operator (SURVEY.md §2.D `dedup-near`):
    exact-duplicate collapse → LSH candidate generation over distinct
    texts → exact Jaccard verification → threshold → member expansion.

    Output-identical to running LSH+verify over the raw corpus (every
    exact-group member shares its representative's buckets AND its
    pair-Jaccards, so (a, b) is a ≥0.5-verified candidate iff
    (rep_a, rep_b) is, and intra-group pairs are always Jaccard-1
    candidates), but the quadratic verify stage runs over distinct
    texts only; the member-expansion joins are output-sized."""
    m, near = near_rep_pairs(load(spark, sf_dir, "documents"))
    return expand_member_pairs(m, near, {}, [])


# ---------------------------------------------------------------------------
# Cluster assignment (connected components over near-dup pairs) and
# benchmark decontamination — the two steps after candidate generation
# that a real training-data pipeline needs.
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected edge list
    ``(doc_a, doc_b)`` → one ``(doc_id, rep_id)`` row per node, where
    ``rep_id`` is the smallest doc_id in the node's component — the
    canonical document every near-dup cluster keeps.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — the
    algorithm behind GraphFrames' CC): each round rewires every node's
    larger neighbors (large-star) and then its smaller neighbors
    (small-star) onto the local minimum, contracting whole LABEL
    REGIONS per round, until the edge set is a fixpoint — at which
    point every node holds a direct edge to its component minimum.
    O(log² n) rounds regardless of id placement.

    Why not label propagation: the previous implementation
    (neighbor-min + one label-of-label indirection per round) was
    silently WRONG at sf10 — pointer doubling is defeated whenever a
    region uniformly converges to the component's SECOND-smallest id
    first: every such node's label-of-label is that id itself, so the
    true minimum crawls back one hop per round and a 20-round cap
    exits unconverged.  Found as the `dedup-semantic` sf10 hash
    mismatch (round-8 bisection: one 149-doc region kept rep 1467
    despite cosine-0.49 bucket edges into the rep-1271 component);
    pinned by ``test_connected_components_second_min_far_end``.
    Star contraction has no such failure mode, and a non-convergence
    at ``max_iter`` now RAISES instead of returning wrong labels.

    Scale shape: per round, two partial-aggregated min-groupBys and
    two key-equi-joins over the (shrinking) edge set; the edge list is
    canonicalized + ``localCheckpoint``-ed once up front so the
    upstream derivation (at sf10 a ~5G-row bucketed cosine join) is
    never re-executed across rounds, and each round's result is
    checkpointed so the plan stays constant-depth."""
    e = (
        edges.selectExpr("doc_a AS x", "doc_b AS y")
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b"))
        .distinct()
    )
    # materialize ONCE before iterating (round-7 fix, kept): every
    # round re-reads the edge set; without this the full upstream
    # lineage re-executes per round — a ~10× wall multiplier at sf10
    e = e.localCheckpoint(eager=True)
    n_e = e.count()
    for _ in range(max_iter):
        # large-star: for each node u, hook every LARGER neighbor onto
        # min(N(u) ∪ {u}) — emitted edges stay (larger, smaller)
        sym = e.selectExpr("a AS u", "b AS v").unionAll(
            e.selectExpr("b AS u", "a AS v")
        )
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: for each node u (the larger endpoint of its
        # edges), hook u and all its smaller neighbors onto their min
        mnb = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            ls.join(mnb, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mnb.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence probe (round 10): e's count is last round's
        # ss.count — carry it in the driver instead of re-running a
        # count job every round (4 driver-synchronous jobs per round
        # instead of 5; the exceptAll still short-circuits on a count
        # mismatch, so non-converged rounds stay shuffle-free past the
        # two checkpoints).  A ONE-job full-outer-join probe was built
        # and measured for this round and REJECTED: wash at sf1
        # (AB_DEDUPSPINE_SF1.json's first capture) and strictly worse
        # at scale — it shuffles BOTH edge sets every round where the
        # count probe shuffles only on the final (equal-count) rounds.
        # The RAISE-on-non-convergence contract below is unchanged.
        n_ss = ss.count()
        same = n_ss == n_e and ss.exceptAll(e).limit(1).count() == 0
        e, n_e = ss, n_ss
        if same:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating-star rounds — refusing to return labels"
        )
    # fixpoint edge set is a flat star forest: (node, component min)
    leaves = e.selectExpr("a AS doc_id", "b AS rep_id")
    centers = (
        e.select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("rep_id", F.col("doc_id"))
    )
    return leaves.unionByName(centers)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup pairs → dedup clusters: every doc in a ≥0.5-Jaccard pair
    mapped to its cluster's canonical (minimum) doc_id.

    Connectivity only needs a SPANNING edge set, not `dedup-near`'s
    full pair list: exact groups connect by star edges (member →
    group representative — every such pair is a Jaccard-1 candidate in
    the uncollapsed graph), distinct texts by the rep-level ≥0.5
    pairs.  Components and min-ids are identical to CC over the full
    edge list, but sf10's edge volume drops from ~25M complete-graph
    pairs to |docs in dup groups| + |rep pairs| — and each CC round's
    shuffle shrinks with it."""
    m, near = near_rep_pairs(load(spark, sf_dir, "documents"))
    star = m.filter(
        (F.col("n_members") >= 2) & (F.col("doc_id") != F.col("rep_doc"))
    ).select(F.col("rep_doc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return connected_components(near.unionByName(star))


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc novelty: the fraction of its distinct n-grams that
    FIRST appear in this doc (ingestion order = doc_id) — the
    curriculum/lineage signal behind "how much of this document is new
    material vs. already in the corpus", and the soft sibling of
    hard decontamination.

    Scale shape: shingles explode row-locally; first-appearance is ONE
    ``min(doc_id)`` groupBy over the shingle key (partial-aggregated);
    the per-doc ratio is a second groupBy on doc_id.  No self-join —
    the n-gram's owner is an aggregate, not a pairwise comparison."""
    sh = shingles(docs, n)
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(load(spark, sf_dir, "documents"))


def cluster_representatives(labels: DataFrame, docs: DataFrame) -> DataFrame:
    """Canonical-document selection — the step AFTER clustering that
    actually dedups the corpus: per near-dup cluster keep the longest
    document (``n_chars``; doc_id tie-break), report cluster size.

    One groupBy on the cluster label with a ``max(struct(n_chars,
    -doc_id))`` argmax — a single partial-aggregated shuffle, no window
    (a window would sort every cluster; the struct-max is a constant-
    size accumulator).  Composes with ``connected_components``: its
    labels are already keyed by cluster, so at 100 TB this adds one
    exchange over the label set, never touching document text."""
    j = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        j.groupBy("rep_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nid"))
            ).alias("m"),
        )
        .select(
            "rep_id",
            (-F.col("m.nid")).alias("keep_doc"),
            F.col("m.nc").alias("keep_chars"),
            "n_members",
        )
        .orderBy("rep_id")
    )


def q_dedup_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = q_dedup_components(spark, sf_dir)
    return cluster_representatives(labels, load(spark, sf_dir, "documents"))


def decontaminate_ngram(
    docs: DataFrame, bench: DataFrame, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: per training doc, the number of
    distinct word n-grams it shares with ANY benchmark doc.  Docs with
    ``n_shared > 0`` are contamination candidates to drop before
    training.  The benchmark shingle set is tiny next to a 100 TB
    corpus, so it broadcasts — the corpus-side scan never shuffles."""
    bench_sh = shingles(bench, n).select("sh").distinct()
    return (
        shingles(docs, n)
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in split: doc_id % 100 == 0 is the held-out benchmark."""
    d = load(spark, sf_dir, "documents")
    return decontaminate_ngram(
        d.filter(F.col("doc_id") % 100 != 0),
        d.filter(F.col("doc_id") % 100 == 0),
    )


def incremental_new_docs(new_docs: DataFrame, existing: DataFrame) -> DataFrame:
    """Incremental corpus dedup: keep only the new docs whose
    order-insensitive token-set fingerprint is absent from the already-
    ingested corpus — the every-crawl-cycle operation of a growing
    training corpus.  Shape: two row-local fingerprint projections and
    one LEFT ANTI join on the 16-byte fingerprint.  The anti-join
    shuffles only (id, fp) pairs, never document text; when the daily
    increment is small relative to the corpus, flip the join order so
    the increment side broadcasts."""
    from pandasqlite_spark.functions.text import fingerprint

    new_fp = new_docs.select("doc_id", fingerprint().alias("fp"))
    old_fp = existing.select(fingerprint().alias("fp")).distinct()
    return new_fp.join(old_fp, "fp", "left_anti").select("doc_id", "fp")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in split: doc_id % 5 == 0 is the new increment; the rest
    is the existing corpus (10% of the increment is dropped as
    already-present at sf0.01)."""
    d = load(spark, sf_dir, "documents")
    return incremental_new_docs(
        d.filter(F.col("doc_id") % 5 == 0),
        d.filter(F.col("doc_id") % 5 != 0),
    )


def _minhash_oracle_sig() -> str:
    mins = ",\n               ".join(
        f"min(md5('s{i}|' || sh)) AS m{i}" for i in range(N_HASHES)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       for i in range(1, len(t) - 1)])) AS sh
          FROM toks WHERE len(t) >= 3)
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    """


def _minhash_oracle_pairs() -> str:
    r = N_HASHES // N_BANDS
    bands = "\n          UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5({' || '.join(f'm{b * r + j}' for j in range(r))}) AS band_sig FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_oracle_sig()}),
        bands AS (
          {bands})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# SimHash (16-bit portable variant; production would widen to 64 via
# xxhash64 bit arithmetic — same aggregation shape)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _simhash_sql(table: str, div_op: str, tok_src: str | None = None) -> str:
    """Engine-common simhash SQL; ``div_op`` is `div` (Spark) or `//`
    (DuckDB); ``tok_src`` overrides the token-table subquery (Spark uses
    explode(), DuckDB unnest()).  Per token: 16 bit-votes from the first
    4 md5 hex chars; per doc: vote sums → sign bits → integer signature."""
    votes = []
    weights = []
    b = 0
    for j in range(4):  # hex char position
        val = f"(instr('{_HEX}', substring(md5(tok), {j + 1}, 1)) - 1)"
        for p in (8, 4, 2, 1):  # bit within the hex char
            votes.append(
                f"SUM(2 * (({val} {div_op} {p}) % 2) - 1) AS s{b}"
            )
            weights.append(f"CASE WHEN s{b} >= 0 THEN {1 << (15 - b)} ELSE 0 END")
            b += 1
    votes_sql = ",\n               ".join(votes)
    sig = " + ".join(weights)
    if tok_src is None:
        tok_src = f"SELECT doc_id, unnest({_TOKS}) AS tok FROM {table}"
    return f"""
        WITH tok_tbl AS (
          {tok_src}
        ),
        votes AS (
          SELECT doc_id,
               {votes_sql}
          FROM tok_tbl GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
        FROM votes
    """


def _simhash_sql_spark(table: str) -> str:
    tok_src = (
        f"SELECT doc_id, explode(split(trim(lower(text)), '\\\\s+')) AS tok"
        f" FROM {table}"
    )
    return _simhash_sql(table, "div", tok_src)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_simhash_sql_spark("documents"))


def boilerplate_spans(docs: DataFrame, n: int = 8, min_docs: int = 3) -> DataFrame:
    """Cross-document repeated-span mining — the boilerplate detector
    (headers, footers, license blocks, templated paragraphs) that
    span-level dedup pipelines run before training (the exact-substring
    phase of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better", done at n-gram granularity): any ``n``-token window
    appearing in ≥ ``min_docs`` distinct documents is flagged, with a
    canonical example doc per span.

    Scale shape: the shingle fan-out is row-local (transform over the
    token array — no explode-then-join), per-doc ``array_distinct``
    dedups *before* the shuffle, and the single groupBy's map-side
    combine means the exchange carries one (span, partial count) per
    distinct span per partition.  The |docs|×|windows| intermediate
    never materializes anywhere.  For a 100 TB corpus you'd hash spans
    to 8-byte keys for the count pass and re-derive texts only for the
    survivors; the text-keyed form here is the oracle-checkable
    contract."""
    sh = shingles(docs, n)
    return (
        sh.groupBy(F.col("sh").alias("span"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy("span")
    )


def q_text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_spans(load(spark, sf_dir, "documents"))


QUERIES = {
    "dedup-sorted-neighborhood": q_dedup_sorted_neighborhood,
    "dedup-cross-source-leakage": q_dedup_cross_source_leakage,
    "text-boilerplate-spans": q_text_boilerplate_spans,
    "dedup-exact": q_dedup_exact,
    "dedup-jaccard-verify": q_dedup_jaccard_verify,
    "dedup-containment": q_dedup_containment,
    "dedup-normalized": q_dedup_normalized,
    "dedup-minhash-signature": q_dedup_minhash_signature,
    "dedup-minhash-pairs": q_dedup_minhash_pairs,
    "dedup-near": q_dedup_near,
    "dedup-simhash": q_dedup_simhash,
    "dedup-connected-components": q_dedup_components,
    "dedup-cluster-representative": q_dedup_cluster_rep,
    "text-ngram-novelty": q_text_ngram_novelty,
    "decontaminate-ngram": q_decontaminate_ngram,
    "dedup-incremental": q_dedup_incremental,
}

# Recursive-CTE chain computing near-dup connected components (shared
# by the components key and the representative-selection key): band
# pairs → Jaccard-verified edges → symmetric closure `reach`.
_CC_CTES = f"""pairs AS (
          WITH near_pairs AS ({{pairs}}),
          toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
          shl AS (
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) AS l
            FROM toks WHERE len(t) >= 3)
          SELECT p.doc_a, p.doc_b
          FROM near_pairs p
          JOIN shl a ON a.doc_id = p.doc_a
          JOIN shl b ON b.doc_id = p.doc_b
          WHERE CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                   / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) >= 0.5
        ),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM pairs),
        reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)"""


ORACLES = {
    "dedup-sorted-neighborhood": f"""
        WITH keyed AS (
          SELECT doc_id,
                 substr(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, 16) AS k
          FROM documents),
        ranked AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn
          FROM keyed),
        pairs AS (
          SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                 GREATEST(a.doc_id, b.doc_id) AS doc_b
          FROM ranked a JOIN ranked b
            ON b.rn BETWEEN a.rn - 3 AND a.rn - 1),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3),
        j AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                   / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l)))
                   AS jaccard
          FROM pairs p
          JOIN shl a ON a.doc_id = p.doc_a
          JOIN shl b ON b.doc_id = p.doc_b)
        SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
        FROM j WHERE jaccard >= 0.5
        ORDER BY doc_a, doc_b
    """,
    # per-doc DISTINCT inside `s` mirrors shingles()'s array_distinct,
    # so a span repeated within one doc counts that doc once
    "text-boilerplate-spans": r"""
        WITH d AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        x AS (
          SELECT doc_id, toks,
                 unnest(range(0, greatest(len(toks) - 7, 0))) AS i
          FROM d),
        s AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS sh
          FROM x)
        SELECT sh AS span, COUNT(*) AS n_docs, MIN(doc_id) AS example_doc
        FROM s GROUP BY sh HAVING COUNT(*) >= 3 ORDER BY span
    """,
    "text-ngram-novelty": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       for i in range(1, len(t) - 1)])) AS sh
          FROM toks WHERE len(t) >= 3),
        first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM sh s JOIN first f USING (sh)
        GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    "dedup-incremental": f"""
        WITH fp AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
          FROM documents)
        SELECT n.doc_id, n.fp
        FROM fp n
        WHERE n.doc_id % 5 = 0
          AND NOT EXISTS (SELECT 1 FROM fp o
                          WHERE o.doc_id % 5 <> 0 AND o.fp = n.fp)
    """,
    "dedup-exact": """
        SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "dedup-normalized": """
        SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS text_hash,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                     ' +', ' ', 'g'))
    """,
    "dedup-minhash-signature": _minhash_oracle_sig(),
    "dedup-minhash-pairs": _minhash_oracle_pairs(),
    "dedup-jaccard-verify": f"""
        WITH pairs AS ({_minhash_oracle_pairs()}),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3)
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                 / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) AS jaccard
        FROM pairs p
        JOIN shl a ON a.doc_id = p.doc_a
        JOIN shl b ON b.doc_id = p.doc_b
    """,
    "dedup-containment": f"""
        WITH pairs AS ({_minhash_oracle_pairs()}),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3)
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_intersect(a.l, b.l)) AS BIGINT) AS n_inter,
               CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                 / LEAST(len(a.l), len(b.l)) AS containment
        FROM pairs p
        JOIN shl a ON a.doc_id = p.doc_a
        JOIN shl b ON b.doc_id = p.doc_b
    """,
    "dedup-simhash": _simhash_sql("documents", "//"),
    "dedup-cross-source-leakage": f"""
        WITH pairs AS ({_minhash_oracle_pairs()}),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3),
        near AS (
          SELECT p.doc_a, p.doc_b
          FROM pairs p
          JOIN shl a ON a.doc_id = p.doc_a
          JOIN shl b ON b.doc_id = p.doc_b
          WHERE CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                   / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) >= 0.5),
        lbl AS (
          SELECT n.doc_a, n.doc_b,
                 LEAST(da.source, db.source) AS source_a,
                 GREATEST(da.source, db.source) AS source_b,
                 da.source <> db.source AS cross_source
          FROM near n
          JOIN documents da ON da.doc_id = n.doc_a
          JOIN documents db ON db.doc_id = n.doc_b)
        SELECT source_a, source_b, cross_source, COUNT(*) AS n_pairs
        FROM lbl GROUP BY 1, 2, 3 ORDER BY source_a, source_b
    """,
    "dedup-near": f"""
        WITH pairs AS ({_minhash_oracle_pairs()}),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3)
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN shl a ON a.doc_id = p.doc_a
        JOIN shl b ON b.doc_id = p.doc_b
        WHERE CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                 / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) >= 0.5
    """,
    "dedup-connected-components": f"""
        WITH RECURSIVE {_CC_CTES.format(pairs=_minhash_oracle_pairs())}
        SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep_id
        FROM reach GROUP BY u
    """,
    "dedup-cluster-representative": f"""
        WITH RECURSIVE {_CC_CTES.format(pairs=_minhash_oracle_pairs())},
        labels AS (
          SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep_id
          FROM reach GROUP BY u),
        j AS (
          SELECT l.rep_id, l.doc_id, d.n_chars
          FROM labels l JOIN documents d USING (doc_id)),
        sel AS (
          SELECT rep_id, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY rep_id
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY rep_id) AS n_members
          FROM j)
        SELECT rep_id, doc_id AS keep_doc, n_chars AS keep_chars, n_members
        FROM sel WHERE rn = 1
    """,
    "decontaminate-ngram": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       for i in range(1, len(t) - 1)])) AS sh
          FROM toks WHERE len(t) >= 3),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0)
        SELECT s.doc_id, COUNT(*) AS n_shared
        FROM sh s JOIN bench b ON s.sh = b.sh
        WHERE s.doc_id % 100 <> 0
        GROUP BY s.doc_id
    """,
}


def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality readout: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (matching signature components / k) next
    to the EXACT shingle Jaccard and the signed error — the measurement
    that tells you whether k=8 hashes is enough before you trust the
    sketch at 100 TB (the ANN twin is ``simsearch-recall-eval``).

    Scale shape: signatures and candidates are the existing bucketed
    LSH path; the estimate is a row-local integer comparison of the two
    joined signatures, and the exact Jaccard touches candidate pairs
    only.  ``n_match`` is an integer and both ratios divide identical
    ints — no float aggregation anywhere.

    The verification runs on a DETERMINISTIC 1/16 pair sample
    (``(doc_a·31 + doc_b) % 16 = 0`` — portable integer arithmetic the
    oracle states identically): candidate volume grows with
    duplicate-cluster size SQUARED (sf10's 100-way clusters produce
    ~25M candidate pairs, whose exact shingle-set verify spilled 40 GB
    and died on maxResultSize — the round-4 sf10 find), and a sketch
    QUALITY readout never needs every pair, it needs an unbiased,
    reproducible sample.  Candidate GENERATION — the part that must
    scale — stays full.

    Parallelism + lineage (round 9, guide §2.5/§5): the k·|shingles|
    md5s of the signature and the shingle hashing of the verify run
    map-side inside the scan task, so the under-split sf1 layout
    serialized them onto 2 cores — the skinny (doc_id, text)
    projection is spread to session parallelism first (no-op on real
    many-split inputs).  The signature feeds three consumers (bands +
    both estimate sides) and the sampled pair list two (estimate +
    verify): both get an eager localCheckpoint — doc_id + k hashes /
    two longs per pair — so each computes once (the C4 band_tuning
    precedent).  MIN/count aggregates throughout: bit-exact under any
    partitioning."""
    d = load(spark, sf_dir, "documents")
    from pandasqlite_spark.operators.common import spread_scan

    ds = spread_scan(d.select("doc_id", "text"), "doc_id")
    sig = minhash_signatures(ds).localCheckpoint(eager=True)
    pairs = (
        candidate_pairs(lsh_bands(sig))
        .filter((F.col("doc_a") * 31 + F.col("doc_b")) % 16 == 0)
        .localCheckpoint(eager=True)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_match")
    )
    exact = jaccard_verify(ds, pairs)
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            F.round(F.col("n_match") / float(N_HASHES), 6).alias("est_jaccard"),
            F.round("jaccard", 6).alias("exact_jaccard"),
            F.round(F.col("n_match") / float(N_HASHES) - F.col("jaccard"), 6).alias(
                "err"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["dedup-minhash-estimate"] = q_dedup_minhash_estimate

_EST_MATCH = " + ".join(f"CAST(a.m{i} = b.m{i} AS INTEGER)" for i in range(N_HASHES))

ORACLES["dedup-minhash-estimate"] = f"""
    WITH sig AS ({_minhash_oracle_sig()}),
    pairs0 AS ({_minhash_oracle_pairs()}),
    -- same deterministic 1/16 verification sample as the engine
    pairs AS (SELECT * FROM pairs0 WHERE (doc_a * 31 + doc_b) % 16 = 0),
    m AS (
      SELECT p.doc_a, p.doc_b, ({_EST_MATCH}) AS n_match
      FROM pairs p
      JOIN sig a ON a.doc_id = p.doc_a
      JOIN sig b ON b.doc_id = p.doc_b),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shl AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS l
      FROM toks WHERE len(t) >= 3),
    ex AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
               / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) AS jaccard
      FROM pairs p
      JOIN shl a ON a.doc_id = p.doc_a
      JOIN shl b ON b.doc_id = p.doc_b)
    SELECT m.doc_a, m.doc_b, m.n_match,
           ROUND(m.n_match / {float(N_HASHES)}, 6) AS est_jaccard,
           ROUND(ex.jaccard, 6) AS exact_jaccard,
           ROUND(m.n_match / {float(N_HASHES)} - ex.jaccard, 6) AS err
    FROM m JOIN ex USING (doc_a, doc_b)
    ORDER BY doc_a, doc_b
"""


PARA_SIZE = 8
PARA_TOP = 20


def q_dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup — the C4/RefinedWeb boilerplate
    pass: documents split into fixed 8-token blocks (stand-ins for
    paragraphs; swap the splitter for ``\\n\\n`` on real text), and any
    FULL block appearing in ≥2 distinct documents is reported with its
    spread — these are the navigation bars / license footers /
    templated snippets that whole-doc dedup never sees.

    Scale shape: block explosion is row-local and codegen'd
    (`sequence` → `slice`, no shuffle); the only exchange is the block
    groupBy, whose key is the md5 of the block (uniform, skew-free).
    Counts are integers; ordering is (n_docs DESC, block text) —
    engine-total."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("nt")).filter(
        F.col("nt") >= PARA_SIZE
    )
    nblocks = F.expr(f"cast(floor(nt / {PARA_SIZE}.0) as int)")
    blocks = d.withColumn("b", F.explode(F.sequence(F.lit(0), nblocks - 1))).select(
        "doc_id",
        F.array_join(
            F.slice(F.col("toks"), F.col("b") * PARA_SIZE + 1, PARA_SIZE), " "
        ).alias("block"),
    )
    return (
        blocks.groupBy("block")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.md5("block").alias("block_hash"), "block", "n_docs", "n_occurrences")
        .orderBy(F.col("n_docs").desc(), "block")
        .limit(PARA_TOP)
    )


QUERIES["dedup-paragraph-exact"] = q_dedup_paragraph_exact

ORACLES["dedup-paragraph-exact"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE len({_TOKS}) >= {PARA_SIZE}),
    blocks AS (
      SELECT doc_id,
             array_to_string(toks[b*{PARA_SIZE}+1 : b*{PARA_SIZE}+{PARA_SIZE}], ' ')
               AS block
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(floor(len(toks)/{PARA_SIZE}.0) AS BIGINT))) AS b
            FROM t) s)
    SELECT md5(block) AS block_hash, block,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM blocks GROUP BY block
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, block LIMIT {PARA_TOP}
"""


#: Buckets larger than this are excluded from the VERIFY stage (only):
#: at r=1 a single popular min-shingle herds thousands of unrelated docs
#: into one bucket, and the bucket self-join is quadratic in bucket size
#: — the sf10 probe measured a 1700-doc bucket (1.4M pairs from ONE
#: bucket, ~1B join rows for the 8-band config) whose members are almost
#: all false positives.  256 comfortably clears the genuine duplicate
#: clusters (≈100-doc exact-replica groups in the synthetic corpus, and
#: the mega-cluster sizes a crawl corpus's verify stage should still
#: afford), while capping verify cost at O(n_buckets · CAP²) — LINEAR
#: in corpus size.  Excluded buckets are counted in ``n_mega_buckets``.
BAND_TUNING_CAP = 256


def _band_cte(bands: int, k: int = N_HASHES) -> str:
    """LSH band-unpivot CTE body for an arbitrary band count (same
    layout as :func:`lsh_bands`: band b = signature rows b·r..b·r+r-1)."""
    r = k // bands
    return "\n          UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5({' || '.join(f'm{b * r + j}' for j in range(r))}) AS band_sig FROM sig"
        for b in range(bands)
    )


def band_tuning(docs: DataFrame, configs=(8, 4, 2), k: int = N_HASHES, tau: float = 0.5) -> DataFrame:
    """The LSH banding knob, MEASURED (the `simsearch-nprobe-curve`
    counterpart for MinHash dedup): for each band count b over the same
    k-hash signatures — exact candidate volume, exact-Jaccard-verified
    count (J ≥ τ) on a deterministic pair sample, integer
    precision×10⁶ from that sample, and the theoretical S-curve
    capture probability ``1 − (1 − τ^r)^b`` at the threshold.  More
    bands → cheaper rows-per-band → more candidates, lower precision;
    the readout is how you SIZE (b, r) before a 100 TB dedup run
    instead of guessing.

    ``n_candidate_slots`` is the exact bucket-join output cardinality
    Σ C(bucket, 2) summed over bands — the COMPUTE COST the knob
    trades, computed from bucket sizes alone (one groupBy, NO join):
    the distinct-pair count would require materializing the quadratic
    object the knob exists to avoid (the sf10 attempt died at ~1B join
    rows for b=8/r=1), while the slot count is exact at any scale.
    ``n_mega_buckets`` counts buckets above :data:`BAND_TUNING_CAP` —
    the degenerate-band signal (r=1 herds unrelated docs into
    popular-shingle buckets).

    Verification (the expensive part) runs only on pairs from
    CAP-bounded buckets, sampled by the same deterministic 1/16 pair
    predicate as ``dedup-minhash-estimate`` — and the sample predicate
    is applied BELOW the pair-distinct, so the dedup shuffle carries
    1/16th of the pairs.  Reported as ``n_sampled``/``n_verified``
    with precision over the sample.

    Scale shape per config: bucket sizes are one (band, band_sig)
    groupBy; the verify self-join reuses that exchange (same key) and
    its output is bounded by n_buckets · CAP²/16; each config
    collapses to ONE row before the 3-row union.  The cost row and the
    sampled-verify row are combined by a 2-row union + final aggregate
    (NOT a crossJoin — no nested loop anywhere in the plan).
    ``precision_x1m`` is NULL when the sample is empty (tiny SFs) —
    guarded via nullif on both engines rather than dividing by zero.
    """
    from pyspark.sql import functions as F  # local alias for clarity

    # round-9 (guide §5: cut lineage for reused intermediates): the
    # signature subtree feeds 3 configs × (bucket-size agg + both sides
    # of the verify self-join) ≈ 9 plan branches, each re-hashing every
    # document k times; the checkpoint payload is doc_id + k longs —
    # tiny next to the text it derives from.  Likewise `bsz` (bucket
    # sizes: feeds the cost row AND the small-bucket filter) and
    # `sampled` (the self-join candidate pairs: feeds the intersection
    # join AND the left-join spine inside jaccard_verify).
    sig = minhash_signatures(docs, k=k).localCheckpoint(eager=False)
    rows = None
    for b in configs:
        r = k // b
        capture = round(1.0 - (1.0 - tau ** r) ** b, 6)
        bands_df = lsh_bands(sig, bands=b, k=k)
        bsz = bands_df.groupBy("band", "band_sig").agg(
            F.count(F.lit(1)).alias("n")
        ).localCheckpoint(eager=False)
        cost = bsz.agg(
            F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("n_candidate_slots"),
            F.sum(F.when(F.col("n") > BAND_TUNING_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_mega_buckets"),
            F.lit(None).cast("bigint").alias("n_sampled"),
            F.lit(None).cast("bigint").alias("n_verified"),
        )
        small = bsz.filter(F.col("n") <= BAND_TUNING_CAP).select("band", "band_sig")
        bs = bands_df.join(small, ["band", "band_sig"])
        a, bb = bs.alias("a"), bs.alias("b")
        sampled = (
            a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .filter((F.col("doc_a") * 31 + F.col("doc_b")) % 16 == 0)
            .distinct()
            .localCheckpoint(eager=False)
        )
        ver = jaccard_verify(docs, sampled)
        vagg = ver.agg(
            F.lit(None).cast("bigint").alias("n_candidate_slots"),
            F.lit(None).cast("bigint").alias("n_mega_buckets"),
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.when(F.col("jaccard") >= tau, 1).otherwise(0))
            .cast("bigint")
            .alias("n_verified"),
        )
        row = (
            cost.unionByName(vagg)
            .agg(
                F.max("n_candidate_slots").alias("n_candidate_slots"),
                F.max("n_mega_buckets").alias("n_mega_buckets"),
                F.max("n_sampled").alias("n_sampled"),
                F.max("n_verified").alias("n_verified"),
            )
            .select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                "n_candidate_slots",
                "n_mega_buckets",
                "n_sampled",
                "n_verified",
                F.floor(
                    F.col("n_verified") * F.lit(1_000_000).cast("bigint")
                    / F.expr("nullif(n_sampled, 0)")
                ).cast("bigint").alias("precision_x1m"),
                F.lit(capture).alias("capture_at_tau"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("bands")


def q_dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return band_tuning(load(spark, sf_dir, "documents"))


QUERIES["dedup-band-tuning"] = q_dedup_band_tuning


def _band_tuning_oracle(configs=(8, 4, 2), k: int = N_HASHES, tau: float = 0.5) -> str:
    cap = BAND_TUNING_CAP
    ctes, parts = [], []
    for b in configs:
        r = k // b
        capture = round(1.0 - (1.0 - tau ** r) ** b, 6)
        ctes.append(f"bands{b} AS (\n          {_band_cte(b, k)})")
        ctes.append(
            f"bsz{b} AS (SELECT band, band_sig, COUNT(*) AS n"
            f" FROM bands{b} GROUP BY band, band_sig)"
        )
        # exact slot count + mega-bucket count from bucket sizes alone;
        # exact verify on CAP-bounded buckets under the same
        # deterministic 1/16 pair sample as the engine (and
        # dedup-minhash-estimate)
        parts.append(f"""
        SELECT {b} AS bands, {r} AS rows_per_band,
               (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) FROM bsz{b})
                 AS n_candidate_slots,
               (SELECT CAST(SUM(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT)
                 FROM bsz{b}) AS n_mega_buckets,
               COUNT(*) AS n_sampled,
               CAST(SUM(CASE WHEN CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                     / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l)))
                     >= {tau} THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
               CAST(FLOOR(CAST(SUM(CASE WHEN CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                     / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l)))
                     >= {tau} THEN 1 ELSE 0 END) AS BIGINT) * 1000000.0
                     / NULLIF(COUNT(*), 0)) AS BIGINT) AS precision_x1m,
               {capture} AS capture_at_tau
        FROM (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM bands{b} x
              JOIN bands{b} y ON x.band = y.band AND x.band_sig = y.band_sig
                AND x.doc_id < y.doc_id
              JOIN bsz{b} s ON s.band = x.band AND s.band_sig = x.band_sig
              WHERE s.n <= {cap}
                AND (x.doc_id * 31 + y.doc_id) % 16 = 0) p
        JOIN shl a ON a.doc_id = p.doc_a
        JOIN shl b ON b.doc_id = p.doc_b""")
    union = "\n        UNION ALL ".join(parts)
    cte_block = ",\n        ".join(ctes)
    return f"""
        WITH sig AS ({_minhash_oracle_sig()}),
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (
          SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS l
          FROM toks WHERE len(t) >= 3),
        {cte_block}
        {union}
        ORDER BY bands
    """


ORACLES["dedup-band-tuning"] = _band_tuning_oracle()


def threshold_curve(docs: DataFrame, taus=(0.3, 0.5, 0.7, 0.9)) -> DataFrame:
    """Dedup-rate sensitivity to the Jaccard threshold: from ONE
    LSH-candidate + exact-verify pass, the pair count and distinct
    flagged-doc count at each τ — the "how much corpus survives at
    τ = X" readout that sizes a dedup run's aggressiveness before it
    burns 100 TB of compute.  Complements `dedup-band-tuning` (which
    tunes the CANDIDATE generator; this tunes the DECISION rule).

    Scale shape: LSH + exact verify run over DISTINCT TEXTS only
    (:func:`exact_text_groups`); member-level pair and flagged-doc
    counts are recovered EXACTLY by weight arithmetic — a member pair
    is a verified ≥τ candidate iff its representative pair is (banding
    and Jaccard are functions of the text), so cross-group hits count
    ``size_a × size_b`` and every exact group with ≥2 members
    contributes its Jaccard-1 complete graph at all τ ≤ 1.  Nothing
    member-expanded ever materializes.  The τ fan-out is a 4-row
    broadcast over the rep-level pair table.
    """
    skinny, rep_frame = text_group_spine(docs)
    gsz = skinny.filter(F.col("doc_id") == F.col("rep_doc")).select(
        "rep_doc", "n_members"
    )
    rep_pairs = _rep_lsh_pairs(rep_frame)
    rep_ver = jaccard_verify(rep_frame, rep_pairs)
    wa = gsz.select(F.col("rep_doc").alias("doc_a"), F.col("n_members").alias("na"))
    wb = gsz.select(F.col("rep_doc").alias("doc_b"), F.col("n_members").alias("nb"))
    cross = rep_ver.join(wa, "doc_a").join(wb, "doc_b")
    spark = docs.sparkSession
    tau_rows = F.explode(F.array(*[F.lit(float(t)) for t in taus])).alias("tau")
    base = spark.range(1).select(tau_rows)
    fan = cross.crossJoin(F.broadcast(base)).filter(F.col("jaccard") >= F.col("tau"))
    np_cross = fan.groupBy("tau").agg(
        F.sum(F.col("na").cast("bigint") * F.col("nb").cast("bigint")).alias("w")
    )
    intra = gsz.agg(
        F.sum(
            F.col("n_members").cast("bigint")
            * (F.col("n_members").cast("bigint") - 1)
            / F.lit(2)
        )
        .cast("bigint")
        .alias("intra_pairs")
    )
    flagged = (
        fan.select("tau", F.col("doc_a").alias("g"))
        .union(fan.select("tau", F.col("doc_b").alias("g")))
        .union(
            gsz.filter(F.col("n_members") >= 2)
            .select(F.col("rep_doc").alias("g"))
            .crossJoin(F.broadcast(base))
            # intra-group members have Jaccard exactly 1.0, so they are
            # flagged only at τ ≤ 1 (a caller passing τ > 1 must see 0)
            .filter(F.col("tau") <= 1.0)
            .select("tau", "g")
        )
        .distinct()
        .join(gsz.withColumnRenamed("rep_doc", "g"), "g")
        .groupBy("tau")
        .agg(F.sum(F.col("n_members").cast("bigint")).alias("n_docs_in_pairs"))
    )
    return (
        base.join(np_cross, "tau", "left")
        .crossJoin(F.broadcast(intra))
        .join(flagged, "tau", "left")
        .select(
            "tau",
            # exact-group intra pairs have Jaccard 1.0 exactly, so they
            # count only at τ ≤ 1 — without the gate a τ > 1 row would
            # report nonzero pairs where the uncollapsed plan returns 0
            (
                F.coalesce("w", F.lit(0))
                + F.when(
                    F.col("tau") <= 1.0, F.coalesce("intra_pairs", F.lit(0))
                ).otherwise(F.lit(0))
            ).alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0)).alias("n_docs_in_pairs"),
        )
        .orderBy("tau")
    )


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return threshold_curve(load(spark, sf_dir, "documents"))


QUERIES["dedup-threshold-curve"] = q_dedup_threshold_curve

ORACLES["dedup-threshold-curve"] = f"""
    WITH pairs AS ({_minhash_oracle_pairs()}),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shl AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS l
      FROM toks WHERE len(t) >= 3),
    ver AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
               / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) AS jaccard
      FROM pairs p
      JOIN shl a ON a.doc_id = p.doc_a
      JOIN shl b ON b.doc_id = p.doc_b),
    taus AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS tau),
    hits AS (
      SELECT t.tau, v.doc_a, v.doc_b
      FROM taus t JOIN ver v ON v.jaccard >= t.tau),
    np AS (SELECT tau, COUNT(*) AS n_pairs FROM hits GROUP BY 1),
    nd AS (
      SELECT tau, COUNT(DISTINCT d) AS n_docs_in_pairs
      FROM (SELECT tau, doc_a AS d FROM hits
            UNION ALL SELECT tau, doc_b AS d FROM hits)
      GROUP BY 1)
    SELECT t.tau,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           COALESCE(nd.n_docs_in_pairs, 0) AS n_docs_in_pairs
    FROM taus t
    LEFT JOIN np ON np.tau = t.tau
    LEFT JOIN nd ON nd.tau = t.tau
    ORDER BY t.tau
"""


# ---------------------------------------------------------------------------
# Staged big-SF oracle twins (registry.oracle_sql_big)
#
# The registry oracles above run uncollapsed LSH over every document —
# deliberately engine-independent, and the right cross-check at sf ≤ 1.
# At sf10 the 100-way verbatim clusters make the member-level candidate
# set ~25M pairs, each joined to ~50-element shingle lists — the
# verifier-side cost that kept the dedup chain off the sf10 ledger
# (round-6 verdict #1).  These twins restate the SAME semantics through
# the exact-collapse theorem the ENGINE already uses (and that
# tests/test_corpus_ops.py pins): minhash signatures, LSH banding and
# shingle Jaccard are functions of the TEXT alone, so
#   - two same-text docs (with ≥3 tokens, i.e. a signature exists) are
#     ALWAYS candidates with Jaccard exactly 1.0, and
#   - a cross-text member pair is a candidate iff its representative
#     pair is, with the identical verify scores.
# Each twin stages rep-level sig/pairs/verify ONCE into temp tables
# (the graph-oracle pattern, graph.py:556) and recovers member-level
# rows by group expansion / weight arithmetic.  Equivalence to the
# registry oracles is pinned per-key at sf0.001 by
# tests/test_dedup_staged_oracles.py and re-proven at sf0.01/sf0.1
# before any sf10 use.
# ---------------------------------------------------------------------------


def _staged_common(final_needs: tuple[str, ...]) -> list[str]:
    """The shared staging prefix: rep-level group/map/sig/pairs/shl/ver
    temp tables.  ``final_needs`` trims stages a key doesn't touch (the
    signature key needs no pair join at all)."""
    mins = ",\n               ".join(
        f"min(md5('s{i}|' || sh)) AS m{i}" for i in range(N_HASHES)
    )
    r = N_HASHES // N_BANDS
    bands = "\n          UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm{b * r + j}' for j in range(r))}) AS band_sig "
        f"FROM st_sig"
        for b in range(N_BANDS)
    )
    stmts = [
        "DROP TABLE IF EXISTS st_grp",
        f"""CREATE TEMP TABLE st_grp AS
        SELECT MIN(doc_id) AS rep_doc, COUNT(*) AS n_members,
               COALESCE(len({_TOKS}) >= 3, FALSE) AS has_sig,
               text
        FROM documents GROUP BY text""",
        "DROP TABLE IF EXISTS st_map",
        """CREATE TEMP TABLE st_map AS
        SELECT d.doc_id, g.rep_doc, d.source
        FROM documents d
        JOIN st_grp g ON g.text IS NOT DISTINCT FROM d.text""",
    ]
    if {"sig", "pairs", "ver"} & set(final_needs):
        stmts += [
            "DROP TABLE IF EXISTS st_sig",
            f"""CREATE TEMP TABLE st_sig AS
            WITH toks AS (
              SELECT rep_doc AS doc_id, {_TOKS} AS t FROM st_grp),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                           for i in range(1, len(t) - 1)])) AS sh
              FROM toks WHERE len(t) >= 3)
            SELECT doc_id,
                   {mins}
            FROM sh GROUP BY doc_id""",
        ]
    if {"pairs", "ver"} & set(final_needs):
        stmts += [
            "DROP TABLE IF EXISTS st_pairs",
            f"""CREATE TEMP TABLE st_pairs AS
            WITH bands AS (
              {bands})
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id""",
        ]
    if "ver" in final_needs:
        stmts += [
            "DROP TABLE IF EXISTS st_shl",
            f"""CREATE TEMP TABLE st_shl AS
            WITH toks AS (
              SELECT rep_doc AS doc_id, {_TOKS} AS t FROM st_grp)
            SELECT doc_id,
                   list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) AS l
            FROM toks WHERE len(t) >= 3""",
            "DROP TABLE IF EXISTS st_ver",
            """CREATE TEMP TABLE st_ver AS
            SELECT p.doc_a, p.doc_b,
                   CAST(len(list_intersect(a.l, b.l)) AS BIGINT) AS n_inter,
                   len(a.l) AS n_a, len(b.l) AS n_b,
                   CAST(len(list_intersect(a.l, b.l)) AS DOUBLE)
                     / (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l)))
                     AS jaccard
            FROM st_pairs p
            JOIN st_shl a ON a.doc_id = p.doc_a
            JOIN st_shl b ON b.doc_id = p.doc_b""",
        ]
    return stmts


# member-level pair expansion fragments (cross- and intra-group); the
# intra clique exists iff the group's text HAS a signature — same-text
# docs with < 3 tokens never reach the band join in the registry oracle
_X_MEMB = """
    FROM st_ver v
    JOIN st_map ma ON ma.rep_doc = v.doc_a
    JOIN st_map mb ON mb.rep_doc = v.doc_b"""
_I_MEMB = """
    FROM st_map a
    JOIN st_map b ON a.rep_doc = b.rep_doc AND a.doc_id < b.doc_id
    JOIN st_grp g ON g.rep_doc = a.rep_doc AND g.has_sig"""


def _staged_dedup_oracles() -> dict[str, str]:
    out: dict[str, str] = {}

    def pack(needs, *final):
        return ";\n".join(_staged_common(needs) + list(final))

    out["dedup-minhash-signature"] = pack(
        ("sig",),
        f"""SELECT m.doc_id, {', '.join(f's.m{i}' for i in range(N_HASHES))}
        FROM st_map m JOIN st_sig s ON s.doc_id = m.rep_doc""",
    )

    out["dedup-minhash-pairs"] = pack(
        ("pairs",),
        f"""SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b
        FROM st_pairs v
        JOIN st_map ma ON ma.rep_doc = v.doc_a
        JOIN st_map mb ON mb.rep_doc = v.doc_b
        UNION ALL
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b{_I_MEMB}""",
    )

    out["dedup-jaccard-verify"] = pack(
        ("ver",),
        f"""SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
               v.jaccard{_X_MEMB}
        UNION ALL
        SELECT a.doc_id, b.doc_id, CAST(1.0 AS DOUBLE) AS jaccard{_I_MEMB}""",
    )

    out["dedup-containment"] = pack(
        ("ver",),
        f"""SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
               v.n_inter,
               CAST(v.n_inter AS DOUBLE) / LEAST(v.n_a, v.n_b) AS containment
        {_X_MEMB}
        UNION ALL
        SELECT a.doc_id, b.doc_id,
               CAST(len(sh.l) AS BIGINT) AS n_inter,
               CAST(1.0 AS DOUBLE) AS containment{_I_MEMB}
        JOIN st_shl sh ON sh.doc_id = a.rep_doc""",
    )

    out["dedup-near"] = pack(
        ("ver",),
        f"""SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b
        {_X_MEMB}
        WHERE v.jaccard >= 0.5
        UNION ALL
        SELECT a.doc_id, b.doc_id{_I_MEMB}""",
    )

    out["dedup-cross-source-leakage"] = pack(
        ("ver",),
        f"""WITH memb AS (
          SELECT ma.source AS sa, mb.source AS sb
          {_X_MEMB}
          WHERE v.jaccard >= 0.5
          UNION ALL
          SELECT a.source AS sa, b.source AS sb{_I_MEMB}
        )
        SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
               sa <> sb AS cross_source, COUNT(*) AS n_pairs
        FROM memb GROUP BY 1, 2, 3 ORDER BY source_a, source_b""",
    )

    # rep-level connected components over near edges; members inherit
    # their group's component (group cliques merge via rep near edges);
    # a doc appears in the registry oracle's output iff it is in some
    # near pair: member of a has_sig group of size >= 2, or member of a
    # group incident to a rep-level near edge
    _cc_stage = """DROP TABLE IF EXISTS st_cc;
CREATE TEMP TABLE st_cc AS
        WITH RECURSIVE edges AS (
          SELECT doc_a AS u, doc_b AS v FROM st_ver WHERE jaccard >= 0.5
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM st_ver WHERE jaccard >= 0.5),
        reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        SELECT u AS rep_doc, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u"""

    out["dedup-connected-components"] = pack(
        ("ver",),
        _cc_stage,
        """SELECT m.doc_id, COALESCE(c.comp, m.rep_doc) AS rep_id
        FROM st_map m
        JOIN st_grp g ON g.rep_doc = m.rep_doc
        LEFT JOIN st_cc c ON c.rep_doc = m.rep_doc
        WHERE c.rep_doc IS NOT NULL OR (g.has_sig AND g.n_members >= 2)""",
    )

    # component member count = sum of group sizes; keep doc = member
    # with max n_chars then min doc_id — n_chars is a function of the
    # text (asserted at data-gen), so the member argmax is the group
    # argmax and its min member is the group's rep_doc
    out["dedup-cluster-representative"] = pack(
        ("ver",),
        _cc_stage,
        """WITH gl AS (
          SELECT g.rep_doc, COALESCE(c.comp, g.rep_doc) AS rep_id,
                 g.n_members, d.n_chars
          FROM st_grp g
          LEFT JOIN st_cc c ON c.rep_doc = g.rep_doc
          JOIN documents d ON d.doc_id = g.rep_doc
          WHERE c.rep_doc IS NOT NULL OR (g.has_sig AND g.n_members >= 2)),
        sel AS (
          SELECT rep_id, rep_doc, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY rep_id
                                    ORDER BY n_chars DESC, rep_doc) AS rn,
                 CAST(SUM(n_members) OVER (PARTITION BY rep_id)
                      AS BIGINT) AS n_members
          FROM gl)
        SELECT rep_id, rep_doc AS keep_doc, n_chars AS keep_chars, n_members
        FROM sel WHERE rn = 1""",
    )

    est_match = " + ".join(
        f"CAST(a.m{i} = b.m{i} AS INTEGER)" for i in range(N_HASHES)
    )
    out["dedup-minhash-estimate"] = pack(
        ("ver",),
        f"""DROP TABLE IF EXISTS st_est;
CREATE TEMP TABLE st_est AS
        SELECT v.doc_a, v.doc_b, ({est_match}) AS n_match, v.jaccard
        FROM st_ver v
        JOIN st_sig a ON a.doc_id = v.doc_a
        JOIN st_sig b ON b.doc_id = v.doc_b""",
        f"""WITH memb AS (
          SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
                 GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
                 e.n_match, e.jaccard
          FROM st_est e
          JOIN st_map ma ON ma.rep_doc = e.doc_a
          JOIN st_map mb ON mb.rep_doc = e.doc_b
          UNION ALL
          SELECT a.doc_id, b.doc_id, {N_HASHES} AS n_match,
                 CAST(1.0 AS DOUBLE) AS jaccard{_I_MEMB}
        )
        SELECT doc_a, doc_b, n_match,
               ROUND(n_match / {float(N_HASHES)}, 6) AS est_jaccard,
               ROUND(jaccard, 6) AS exact_jaccard,
               ROUND(n_match / {float(N_HASHES)} - jaccard, 6) AS err
        FROM memb
        WHERE (doc_a * 31 + doc_b) % 16 = 0
        ORDER BY doc_a, doc_b""",
    )

    out["dedup-threshold-curve"] = pack(
        ("ver",),
        """WITH taus AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS tau),
        cw AS (
          SELECT t.tau,
                 CAST(SUM(ga.n_members * gb.n_members) AS BIGINT) AS w
          FROM st_ver v
          JOIN taus t ON v.jaccard >= t.tau
          JOIN st_grp ga ON ga.rep_doc = v.doc_a
          JOIN st_grp gb ON gb.rep_doc = v.doc_b
          GROUP BY 1),
        iw AS (
          SELECT CAST(SUM(n_members * (n_members - 1) // 2) AS BIGINT)
                   AS intra_pairs
          FROM st_grp WHERE has_sig AND n_members >= 2),
        fl AS (
          SELECT t.tau,
                 CAST(SUM(g.n_members) AS BIGINT) AS n_docs_in_pairs
          FROM taus t
          JOIN (
            SELECT tau, rep FROM (
              SELECT t2.tau, v.doc_a AS rep FROM st_ver v
              JOIN taus t2 ON v.jaccard >= t2.tau
              UNION
              SELECT t2.tau, v.doc_b AS rep FROM st_ver v
              JOIN taus t2 ON v.jaccard >= t2.tau
              UNION
              SELECT t2.tau, g2.rep_doc AS rep
              FROM st_grp g2 CROSS JOIN taus t2
              WHERE g2.has_sig AND g2.n_members >= 2)
          ) u ON u.tau = t.tau
          JOIN st_grp g ON g.rep_doc = u.rep
          GROUP BY 1)
        SELECT t.tau,
               COALESCE(cw.w, 0) + COALESCE(iw.intra_pairs, 0) AS n_pairs,
               COALESCE(fl.n_docs_in_pairs, 0) AS n_docs_in_pairs
        FROM taus t
        LEFT JOIN cw ON cw.tau = t.tau
        CROSS JOIN iw
        LEFT JOIN fl ON fl.tau = t.tau
        ORDER BY t.tau""",
    )

    return out


ORACLES_BIG = _staged_dedup_oracles()
