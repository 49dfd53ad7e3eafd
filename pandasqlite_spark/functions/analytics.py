"""Behavioral / statistical analytics operators (SURVEY.md §2.D extensions).

Operators a training-data or product-analytics pipeline reaches for
beyond plain SQL aggregation: robust outlier detection, Markov-style
transition counts, fixed-width histograms, per-group mode, blocked
fuzzy matching, and rank-distribution windows.

Reference parity note: the reference (IBM/pandasqlite) delegates every
analytical query to SQLite (`pandasqlite/pandasqlite.py:231-266` runs
arbitrary generated SQL); these keys extend the delegated surface with
the analytics its users would ask the LLM for, re-expressed as
Catalyst-friendly Spark plans.

Cross-engine determinism (driver value-hash contract):

- **Median-based stats, not mean/stddev.**  A mean/stddev over doubles
  is summation-order-dependent (last-ulp drift between engines — we
  were bitten once, see SWEEP_r03).  Median/MAD are *selection +
  a single interpolation* on identical double bits: both engines
  compute ``lower + frac * (upper - lower)`` on the same two values,
  so results are bit-identical — and MAD is the better outlier
  statistic anyway (mean/stddev are themselves skewed by the outliers
  they are meant to find).
- **Histogram buckets via floor()**, not width_bucket (identical IEEE
  semantics in both engines; no float aggregation at all).
- **Integer edit distances**; **rational-exact** percent_rank/cume_dist
  (``(rank-1)/(n-1)`` over identical ints).

Scale notes (100 TB):

- anomaly-mad: two co-partitioned groupBys + joins on ``user_id`` —
  AQE handles moderate skew; per-user state is O(1) rows.
- transition-matrix: one window (partitioned on user_id) + one
  partial-aggregated groupBy over a 5×5 key space — the final shuffle
  moves ≤ |types|² rows per partition thanks to map-side combine.
- fuzzy-join: equi-join on the blocking key, Levenshtein only *within*
  blocks — candidate pairs are Σ C(block,2), not C(n,2).  Block keys
  with bounded cardinality per key keep the largest block in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandasqlite_spark.operators.common import (
    load,
    load_events,
    load_events_timeline,
    spread_scan,
)


# ---------------------------------------------------------------- anomaly

def mad_outliers(events: DataFrame, k: int = 3) -> DataFrame:
    """Rows whose |value − per-user median| exceeds ``k`` × the per-user
    median absolute deviation (robust z-score, selection-only stats)."""
    ev = events.select("user_id", "event_id", "value")
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = ev.join(med, "user_id").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.median("dev").alias("mad"))
    return (
        dev.join(mad, "user_id")
        .filter(F.col("dev") > k * F.col("mad"))
        .select("user_id", "event_id", "value")
        .orderBy("user_id", "event_id")
    )


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(load_events(spark, sf_dir))


# ----------------------------------------------------- transition matrix

def transition_counts(events: DataFrame) -> DataFrame:
    """Markov transition counts: (previous event_type → event_type)
    frequencies over each user's time-ordered stream."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
        .orderBy("from_type", "to_type")
    )


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transition_counts(load_events_timeline(spark, sf_dir))


# ------------------------------------------------- CEP pattern matching

_SEQ_BOUND_S = 86400  # whole pattern must complete within a day


def sequence_matches(events: DataFrame) -> DataFrame:
    """CEP-style ordered-sequence detection: every occurrence of
    ``click → purchase → error`` as CONSECUTIVE events in a user's
    stream, completing within a day — the "match_recognize" /
    Flink-CEP pattern operator, composed from lead windows.

    Scale shape: one shuffle on ``user_id`` (the window partitioning),
    then ``lead(type,1..2)`` + the predicate evaluate row-locally — a
    k-step pattern is k-1 leads over the SAME window, adding zero
    exchanges.  This is the standard distributed CEP compilation for
    fixed-length contiguous patterns; Kleene-star patterns would go to
    the sessionize-then-``applyInPandasWithState`` path instead."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t1", F.lead("event_type", 1).over(w))
        .withColumn("t2", F.lead("event_type", 2).over(w))
        .withColumn("ts2", F.lead("ts", 2).over(w))
    )
    return (
        steps.filter(
            (F.col("event_type") == "click")
            & (F.col("t1") == "purchase")
            & (F.col("t2") == "error")
            & (F.unix_micros("ts2") - F.unix_micros("ts") <= _SEQ_BOUND_S * 1_000_000)
        )
        .select(
            "user_id",
            F.col("event_id").alias("start_id"),
            ((F.unix_micros("ts2") - F.unix_micros("ts")) / 1_000_000.0)
            .alias("span_s"),
        )
        .orderBy("user_id", "start_id")
    )


def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_matches(load_events(spark, sf_dir))


# ------------------------------------------------------------- histogram

def value_histogram(events: DataFrame, width: int = 50, nbins: int = 10) -> DataFrame:
    """Fixed-width histogram of ``value``: count plus exact min/max per
    bucket (selection-only — no float summation)."""
    bucket = F.least(F.floor(F.col("value") / width).cast("bigint"), F.lit(nbins - 1))
    return (
        events.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .orderBy("bucket")
    )


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_histogram(load_events(spark, sf_dir))


# ------------------------------------------------------------------ mode

def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent market segment per nation (count-desc, then
    segment-asc tiebreak — a total order, so the winner is unique)."""
    cust = load(spark, sf_dir, "customer")
    cnt = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    # null-pin: a NULL segment is a countable mode value, but the
    # tie-break must order it identically on both engines (NULLS LAST)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("n_customers").desc(), F.col("c_mktsegment").asc_nulls_last()
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("mode_segment"),
            "n_customers",
        )
        .orderBy("c_nationkey")
    )


# ------------------------------------------------------------ fuzzy join

def fuzzy_pairs(
    parts: DataFrame,
    block_cols: tuple[str, str] = ("p_brand", "p_size"),
    max_dist: int = 10,
    sample_mod: int | None = None,
) -> DataFrame:
    """Blocked fuzzy self-join: Levenshtein only within equi-join blocks
    (brand × size), so candidates are Σ C(|block|, 2) not C(n, 2).

    ``sample_mod``: optional bounded-readout mode — keep only the
    deterministic ``(pa·31 + pb) % sample_mod == 0`` slice of candidate
    pairs BEFORE the DP runs (the ``dedup-minhash-estimate`` treatment,
    round-4 verdict item 2).  Block candidate volume is quadratic in
    block size, so a corpus with hot blocks (sf10's 100-way replicated
    names: ~1.6B candidates) needs its readout bounded; blocking and the
    length prefilter stay FULL, only the per-pair verify and the emitted
    pair list are sampled.  ``None`` = the full join (the production
    path, where the result goes to a sink, not a comparator)."""
    a = parts.select(
        F.col("p_partkey").alias("pa"),
        F.col("p_name").alias("name_a"),
        *[F.col(c) for c in block_cols],
    )
    b = parts.select(
        F.col("p_partkey").alias("pb"),
        F.col("p_name").alias("name_b"),
        *[F.col(c) for c in block_cols],
    )
    # two lossless cost cuts, same results: (1) |len(a)−len(b)| ≤ d is
    # implied by lev ≤ d, and the length check is O(1) vs the O(|a|·|b|)
    # DP; (2) the THRESHOLDED levenshtein (Spark 3.5+) abandons the DP
    # as soon as the distance provably exceeds d (returns −1) — banded
    # O(d·n) instead of full O(n²) per pair.  Measured at sf1 (200k
    # parts, brand×size blocks): 350s → well under half.
    cand = a.join(b, list(block_cols)).filter(
        (F.col("pa") < F.col("pb"))
        & (F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
    )
    if sample_mod is not None:
        cand = cand.filter(
            (F.col("pa").cast("bigint") * 31 + F.col("pb").cast("bigint"))
            % sample_mod
            == 0
        )
    # round-9 (guide §8: decide with small rows): the DP depends only on
    # the NAME PAIR, and big corpora replicate names (gen_sf: ~10× at
    # sf1, ~100× at sf10), so running it per candidate-ID pair repeated
    # every DP ~replication²/sample_mod times (sf10: ~10⁸ sampled DPs
    # for ~3×10⁵ distinct pairs — the largest single operator wall of
    # the sf10 ledger, 793 s).  The distance table is now built ONCE per
    # distinct ordered name pair within each block (same blocking, same
    # length prefilter — both lossless) and attached back by name
    # equality; ID pairs with a null name or dist > max_dist drop at the
    # inner join exactly as they dropped at the old dist>=0 filter
    # (lev(NULL,·) is NULL).  The name-pair table is bounded by
    # Σ_block |distinct names|² ≪ candidate count whenever names repeat,
    # and the DP cost no longer scales with corpus replication at all.
    dn = parts.select("p_name", *[F.col(c) for c in block_cols]).distinct()
    an = dn.select(F.col("p_name").alias("name_a"), *block_cols)
    bn = dn.select(F.col("p_name").alias("name_b"), *block_cols)
    dp = (
        an.join(bn, list(block_cols))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
        .select("name_a", "name_b")
        .distinct()
        .withColumn("dist", F.expr(f"levenshtein(name_a, name_b, {max_dist})"))
        .filter(F.col("dist") >= 0)
    )
    return (
        cand.join(dp, ["name_a", "name_b"])
        .select("pa", "pb", "dist")
        .orderBy("pa", "pb")
    )


def q_fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded READOUT of the blocked fuzzy join: per-distance pair
    histogram + distinct-doc reach over the deterministic 1/16
    candidate sample.  The first sf10 attempt proved the pair LIST is
    itself the quadratic object (100×-replicated names make nearly
    every sampled candidate a match — the collect hit ~80 GB), so the
    key collapses to ≤11 rows the way ``dedup-band-tuning`` does: the
    engine work (blocking, length prefilter, banded DP) is identical,
    only the emitted surface is bounded.  Pair-level output stays
    available via :func:`fuzzy_pairs` (the production path writes it
    to a sink, never through a comparator)."""
    pairs = fuzzy_pairs(load(spark, sf_dir, "part"), sample_mod=16)
    return (
        pairs.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("pa").alias("n_left_parts"),
        )
        .orderBy("dist")
    )


# -------------------------------------------------- rank distributions

def q_window_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of account balance within each nation —
    tie-aware rank statistics (rational-exact doubles: (rank−1)/(n−1)
    over identical integers is bit-identical across engines)."""
    cust = load(spark, sf_dir, "customer")
    # null-pin: NULLS LAST explicit on both engines (Spark ASC default
    # is NULLS FIRST, DuckDB's NULLS LAST — every rank statistic over a
    # nullable ORDER BY column diverges otherwise; NULLS_SWEEP round 6)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last()
    )
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
        )
        .orderBy("c_custkey")
    )


# -------------------------------------------------- embedding norm top-k

_NORM_SCALE = 1_000_000  # component scale: 1.0 == 10^6


def q_embedding_norm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vectors by squared L2 norm in scaled-integer arithmetic.

    Each float component is quantized to a 10⁶-scaled BIGINT, then the
    squares are folded in array order with ``aggregate`` — integer math,
    so the result is exact and order-independent across engines (a
    float dot-product fold would drift in the last ulp).  Norm filters
    gate embedding quality upstream of ANN indexing."""
    emb = load(spark, sf_dir, "embeddings")
    # promote float → double BEFORE scaling: a float-precision multiply
    # rounds differently between engines (caught by the sf0.1 sweep)
    q = F.expr(
        f"aggregate(transform(embedding,"
        f" x -> cast(round(cast(x as double) * {_NORM_SCALE}) as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v * v)"
    )
    return (
        emb.select("vec_id", q.alias("norm2_scaled"))
        .orderBy(F.col("norm2_scaled").desc(), "vec_id")
        .limit(20)
    )


# ------------------------------------------------- SCD2 state history

def scd2_history(events: DataFrame, tier_width: int = 100) -> DataFrame:
    """Type-2 slowly-changing-dimension build via gaps-and-islands:
    collapse each user's consecutive same-state events into validity
    intervals ``[valid_from_us, valid_to_us)`` (NULL valid_to = current).

    State = value tier (``floor(value / tier_width)``).  Island ids are
    a running sum of change flags — one window pass over the user
    partitioning, then one groupBy on (user, island): both stages hash
    on ``user_id``, so the Exchange is reused and per-user history never
    leaves one task's stream (bounded by events-per-user, not table
    size)."""
    tier = F.floor(F.col("value") / tier_width).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("tier").over(w)
    flagged = (
        events.select(
            "user_id", "event_id", F.unix_micros("ts").alias("us"), tier.alias("tier")
        )
        .withColumn(
            "chg",
            F.when(prev.isNull() | (prev != F.col("tier")), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn(
            "island",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    spans = flagged.groupBy("user_id", "island").agg(
        F.min("tier").alias("tier"),
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wi = Window.partitionBy("user_id").orderBy("island")
    return (
        spans.withColumn("valid_to_us", F.lead("valid_from_us").over(wi))
        .select(
            "user_id",
            "tier",
            "valid_from_us",
            "valid_to_us",
            "n_events",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from_us")
    )


def q_join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct enrichment — the temporal join every
    versioned-dimension warehouse needs: each probe event (the error
    events here) is joined to the SCD2 interval that was VALID AT its
    timestamp, not the current one (joining current state into
    historical facts is the classic feature-leakage bug in training
    pipelines).

    Spark shape: the interval lookup is exactly an as-of join on
    (user, valid_from ≤ t) — the union + last(ignoreNulls) window
    composition from `asof-join`, ONE shuffle on user_id, no interval
    nested-loop.  The oracle states the same semantics as the naive
    interval join (valid_from ≤ t < valid_to)."""
    from pandasqlite_spark.operators.advanced import asof_join

    events = load_events(spark, sf_dir)
    hist = scd2_history(events).select(
        "user_id", "valid_from_us", F.col("tier").alias("tier_at_event")
    )
    probes = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    out = asof_join(
        probes, hist, on="user_id", left_ts="us", right_ts="valid_from_us",
        payload=["tier_at_event"],
    )
    return out.select("event_id", "user_id", "tier_at_event").orderBy("event_id")


def q_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_history(load_events(spark, sf_dir))


# ------------------------------------------------- table fingerprinting

def table_checksum(df: DataFrame, cols: list[str], group_col: str) -> DataFrame:
    """Order-independent content fingerprint: a per-row hash folded with
    an exact DECIMAL(38,0) sum — commutative, so partition order and
    parallelism never change the result.  The 100 TB reconciliation
    primitive: run on source and target, compare one tiny row set
    instead of 100 TB of rows.

    The row hash is the first 15 hex digits of the md5 of a canonical
    ``|``-joined string, which DuckDB computes identically (the
    ``table-checksum`` oracle), so a Spark table can be reconciled
    against a non-Spark copy."""
    canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    rowhash = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # surface as STRING: a DECIMAL(38,0) would round-trip through
            # pandas as float on the DuckDB side and lose exactness
            F.sum(rowhash.cast("decimal(38,0)")).cast("string").alias("checksum"),
        )
        .orderBy(group_col)
    )


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").withColumn(
        "l_qty_int", F.col("l_quantity").cast("bigint")
    )
    return table_checksum(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_qty_int", "l_returnflag", "l_linestatus"],
        "l_returnflag",
    )


# ------------------------------------------------ regression / correlation

def linreg_exact(
    df: DataFrame, x, y, group_col: str
) -> DataFrame:
    """Per-group OLS slope/intercept and Pearson correlation from
    EXACT moment sums.

    ``corr()``/``covar_pop()`` aggregate doubles, so their results are
    summation-order-dependent — nondeterministic across engines and
    even across partitionings of the same engine.  Here the five moment
    sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL (the inputs are
    integer-valued measures scaled to exact decimals), so the sums are
    exact and order-independent; the closed-form combination then runs
    once per *group* in double precision — identical operations on
    identical bits in every engine.  Partial aggregation applies to all
    five sums, so the shuffle carries 5 decimals per group.
    """
    xd = x.cast("decimal(18,2)")
    yd = y.cast("decimal(18,2)")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum((xd * yd).cast("decimal(38,4)")).cast("double").alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x
    return g.select(
        group_col,
        F.round(slope, 9).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 9).alias("intercept"),
        F.round(cov_n / (F.sqrt(var_x) * F.sqrt(var_y)), 9).alias("corr"),
    ).orderBy(group_col)


def q_agg_linreg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity→price regression per return flag over lineitem (both
    measures are integer-valued in cents/units, so the decimal moments
    are exact)."""
    li = load(spark, sf_dir, "lineitem")
    return linreg_exact(
        li, F.col("l_quantity"), F.col("l_extendedprice"), "l_returnflag"
    )


def corr_matrix_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over ``cols`` in ONE
    aggregation pass — the feature-correlation screen run before model
    training — extending :func:`linreg_exact`'s exact-moment strategy
    to all C(k,2) pairs: every Σx, Σx², Σxy accumulates in decimal
    (exact, order-independent), the closed forms combine once in double
    on the single result row, and ``stack`` unpivots to (var_a, var_b,
    corr) rows.  One scan, one partial-aggregated 1-row exchange,
    regardless of k — vs k² `corr()` calls each scanning the table."""
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        d = F.col(c).cast("decimal(18,2)")
        aggs.append(F.sum(d).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum((d * d).cast("decimal(38,4)")).cast("double").alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            da = F.col(a).cast("decimal(18,2)")
            db = F.col(b).cast("decimal(18,2)")
            aggs.append(
                F.sum((da * db).cast("decimal(38,4)")).cast("double").alias(f"sp_{a}_{b}")
            )
    row = df.agg(*aggs)
    n = F.col("n")
    stack_parts = []
    corr_cols = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            cov = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            va = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            vb = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            cname = f"corr_{a}_{b}"
            # undefined for a zero/negative variance term (n=1 or a
            # constant column; double rounding can land n·Σx²−(Σx)²
            # epsilon-negative, where DuckDB's sqrt ERRORS and Spark
            # yields NaN) — both engines emit NULL instead
            row = row.withColumn(
                cname,
                F.when(
                    (va > 0) & (vb > 0),
                    F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 9),
                ),
            )
            stack_parts.append(f"'{a}', '{b}', {cname}")
            corr_cols.append(cname)
    k = len(stack_parts)
    return (
        row.selectExpr(f"stack({k}, {', '.join(stack_parts)}) AS (var_a, var_b, corr)")
        .orderBy("var_a", "var_b")
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corr_matrix_exact(load(spark, sf_dir, "lineitem"), _CORR_COLS)


# ------------------------------------------------------- Benford audit

def benford_first_digit(events: DataFrame) -> DataFrame:
    """Benford's-law first-significant-digit audit over ``value`` — the
    classic fraud/synthetic-data detector in data-quality suites: per
    digit 1-9, observed share vs the Benford expectation
    ``log10(1+1/d)`` and the absolute deviation.  One groupBy on a
    9-value key (partial-aggregated) + a 1-row total broadcast; the
    digit extraction is pure row-local arithmetic."""
    v = F.col("value")
    pos = events.filter(v > 0)
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    counts = pos.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    total = pos.agg(F.count(F.lit(1)).alias("total"))
    share = F.col("n") / F.col("total")
    benford_p = F.log10(1 + 1 / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(share, 6).alias("share"),
            F.round(benford_p, 6).alias("benford_p"),
            F.round(F.abs(share - benford_p), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def q_events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    return benford_first_digit(load_events(spark, sf_dir))


def abtest_lift(events: DataFrame) -> DataFrame:
    """Two-proportion A/B test readout — assignment, conversion, lift,
    and the pooled z-statistic in one pass: users split into arms by
    md5 parity (the deterministic hash-assignment every experiment
    platform uses — reproducible, no assignment table to join), a user
    converts on a high-value purchase (value > 90), and the readout computes
    ``lift = p_b/p_a − 1`` and ``z = (p_b−p_a)/√(p̂(1−p̂)(1/n_a+1/n_b))``.

    Scale shape: two distinct-collapses on user_id (combinable
    map-side), one conditional aggregation to a single row; the z/lift
    arithmetic runs once on that row — exact integer counts into IEEE
    double, engine-identical."""
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 2
    )
    users = events.select("user_id").distinct().withColumn("arm", arm)
    conv = (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per_user = users.join(conv, "user_id", "left").select(
        "arm", F.coalesce("converted", F.lit(0)).alias("converted")
    )
    g = per_user.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("c_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("c_b"),
    )
    pa = F.col("c_a") / F.col("n_a")
    pb = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    z = (pb - pa) / F.sqrt(pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b")))
    return g.select(
        "n_a", "c_a", "n_b", "c_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(pb / pa - 1, 6).alias("lift"),
        F.round(z, 6).alias("z_stat"),
    )


def q_events_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return abtest_lift(load_events(spark, sf_dir))


def gini_exact(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """Per-group Gini coefficient from the exact rank formula
    ``G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n`` (x ascending, i = 1..n) —
    the concentration/inequality screen (is revenue dominated by a few
    orders? is one user most of the traffic?).

    Determinism: xᵢ are exact decimals, ``i·xᵢ`` and both Σ accumulate
    in decimal (order-independent), the closed form combines once per
    group in double, rounded.  One rank window + one groupBy, both
    partitioned on the group key."""
    # null-pin: Gini is defined over the OBSERVED values — drop null x
    # before ranking so i, n, and both sums agree across engines (a
    # null would otherwise shift every rank on one engine only)
    df = df.filter(F.col(value_col).isNotNull())
    x = F.col(value_col).cast("decimal(18,2)")
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(group_col, x.alias("x"), F.col(value_col), F.col(id_col)).withColumn(
        "i", F.row_number().over(w).cast("long")
    )
    g = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("x")).cast("decimal(38,2)")).cast("double").alias("six"),
    )
    gini = (2 * F.col("six")) / (F.col("n") * F.col("sx")) - (F.col("n") + 1) / F.col("n")
    return g.select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(gini, 9).alias("gini"),
    ).orderBy(group_col)


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gini_exact(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def interval_coalesce(events: DataFrame) -> DataFrame:
    """Merge overlapping intervals (the interval-union / coverage
    operator): each event opens a 30-minute activity window per user;
    overlapping windows coalesce into maximal covered spans.  Classic
    composition: running ``max(end)`` over preceding intervals flags
    rows that start a NEW span (start > furthest end so far), a running
    sum of flags numbers the spans, then min/max per span.

    Scale shape: everything runs inside ONE user_id window partitioning
    + one groupBy on (user, span) — the same single-shuffle profile as
    sessionization, and indeed this is sessionization generalized to
    explicit intervals."""
    us = F.unix_micros("ts")
    iv = events.select(
        "user_id", us.alias("lo"), (us + 30 * 60 * 1_000_000).alias("hi")
    )
    w = Window.partitionBy("user_id").orderBy("lo", "hi")
    prev_max = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_span",
        F.when(prev_max.isNull() | (F.col("lo") > prev_max), 1).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id", F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        spans.groupBy("user_id", "span_id")
        .agg(
            F.min("lo").alias("span_lo"),
            F.max("hi").alias("span_hi"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy("user_id", "span_id")
    )


def q_events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interval_coalesce(load_events_timeline(spark, sf_dir))


def user_type_entropy(events: DataFrame) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the diversity /
    bot-detection feature (a scripted client hammers one type: entropy
    ≈ 0; organic users mix).  Two partial-aggregated groupBys on the
    user key; ``p·log2(p)`` combines exact counts in double, rounded."""
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("user_id").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    return (
        counts.join(totals, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("user_id")
    )


def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_type_entropy(load_events(spark, sf_dir))


BOOT_R = 20
# cumulative Poisson(1) CDF thresholds (identical literals both engines)
_POIS_CDF = [
    0.3678794411714423, 0.7357588823428846, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9998167774290453,
]


def _poisson_weight(u) -> F.Column:
    c = F.when(u < _POIS_CDF[0], 0)
    for i, t in enumerate(_POIS_CDF[1:], start=1):
        c = c.when(u < t, i)
    return c.otherwise(len(_POIS_CDF))


def bootstrap_ci(orders: DataFrame, reps: int = BOOT_R) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value —
    the canonical DISTRIBUTED bootstrap: classical resampling needs
    n-out-of-n draws (global coordination), but Poisson(1) weights per
    (row, replicate) approximate it with a pure per-row expression, so
    all R replicates compute in ONE pass over the data.  Weights come
    from an md5-derived uniform through the inverse Poisson CDF —
    reproducible in any engine, any partitioning (no RNG stream).

    Scale shape: the replicate fan-out is a row-local explode (R rows
    per input row — R ≈ tens), one partial-aggregated groupBy on the
    replicate id, and the CI is a rank pick over R rows.  Weighted
    sums accumulate in decimal (order-free).

    Parallelism (round 9, guide §2.5): the fan-out's md5-per-(row,
    replicate) work executes INSIDE the scan task (map-side partial
    agg), so a file layout with fewer splits than cores serializes
    R × |rows| hashes onto 1–2 tasks (sf1 parquet = 2 splits: 30M
    md5s on 2 of 32 cores — the measured 45.7 s sf1 wall).  The
    skinny (key, price) projection is therefore spread to session
    parallelism before the explode when — and only when — the scan
    under-partitions; the shuffle moves 12 bytes/row, the hash work
    it unlocks is ~R × 300 ns/row.  Decimal sums are order-free, so
    the repartition is bit-identical."""
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("o_orderkey"), F.col("r"))), 1, 4
                ),
                16,
                10,
            ).cast("bigint")
            + F.lit(0.5)
        )
        / F.lit(65536.0)
    )
    skinny = spread_scan(
        orders.select(
            "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
        ),
        "o_orderkey",
    )
    fan = skinny.select(
        "o_orderkey",
        "p",
        F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("r"),
    ).withColumn("w", _poisson_weight(u))
    means = fan.groupBy("r").agg(
        (
            F.sum(F.col("w") * F.col("p")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_r")
    )
    from pyspark.sql import Window as W

    ranked = means.withColumn(
        # NULLS LAST explicitly: a replicate whose Poisson weights all
        # land 0 has a NULL mean, and Spark default-sorts NULLS FIRST
        # where DuckDB sorts them LAST — on tiny inputs the rank-2/19
        # picks would diverge between engines
        "rk", F.row_number().over(W.orderBy(F.asc_nulls_last("mean_r"), "r"))
    )
    point = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_est")
    )
    # aggregate the rank picks so each side is ALWAYS one row (NULL on
    # an empty input, like the oracle's scalar subqueries) — a bare
    # filter would vanish and take the whole result with it
    lo = ranked.filter(F.col("rk") == 2).agg(F.max("mean_r").alias("ci_lo"))
    hi = ranked.filter(F.col("rk") == reps - 1).agg(F.max("mean_r").alias("ci_hi"))
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(reps).cast("int").alias("n_replicates"),
            F.round("point_est", 6).alias("point_est"),
            F.round("ci_lo", 6).alias("ci_lo"),
            F.round("ci_hi", 6).alias("ci_hi"),
        )
    )


def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_ci(load(spark, sf_dir, "orders"))


def kaplan_meier(events: DataFrame) -> DataFrame:
    """Kaplan–Meier survival estimate of time-to-first-purchase after
    each user's first signup (right-censored at the observation end,
    2024-01-31) — THE estimator for "how long until users convert /
    churn / fail" under censoring, which a naive mean-of-durations gets
    wrong.

    At each distinct event day t: ``n_risk`` = users still under
    observation, ``d`` = conversions that day, survival =
    ``Π (1 − d/n)`` accumulated in LOG space with an ordered window
    (deterministic), exp'd and rounded once.  The duration build is two
    groupBys on user_id; the risk-set join is |event-days| ×
    |subjects| — calendar-bounded on one side, so broadcastable."""
    signup = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("s_day"))
    )
    purchase = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("p_day")
    )
    first_conv = (
        signup.join(purchase, "user_id", "left")
        .filter(F.col("p_day").isNull() | (F.col("p_day") >= F.col("s_day")))
        .groupBy("user_id", "s_day")
        .agg(F.min("p_day").alias("conv_day"))
    )
    end = F.lit("2024-01-31").cast("date")
    subjects = first_conv.select(
        "user_id",
        F.when(
            F.col("conv_day").isNotNull(), F.datediff("conv_day", F.col("s_day"))
        )
        .otherwise(F.datediff(end, F.col("s_day")))
        .alias("dur"),
        F.col("conv_day").isNotNull().alias("converted"),
    )
    times = (
        subjects.filter("converted")
        .groupBy(F.col("dur").alias("t"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    risk = (
        times.crossJoin(F.broadcast(subjects.select("dur")))
        .filter(F.col("dur") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).alias("n_risk"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # d == n_risk (everyone remaining converts) sends survival to exactly
    # 0 — keep that term out of log space and latch zero from there on
    term = F.when(F.col("d") < F.col("n_risk"), F.log(1 - F.col("d") / F.col("n_risk"))).otherwise(F.lit(0.0))
    hit_zero = F.sum((F.col("d") >= F.col("n_risk")).cast("int")).over(w)
    return (
        risk.withColumn(
            "survival",
            F.when(hit_zero > 0, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum(term).over(w)), 6)
            ),
        )
        .select(F.col("t").cast("int").alias("t_days"), "n_risk", "d", "survival")
        .orderBy("t_days")
    )


def q_events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kaplan_meier(load_events(spark, sf_dir))


def open_backlog(orders: DataFrame) -> DataFrame:
    """Daily open-order backlog via the SWEEP-LINE formulation — the
    scalable answer to "how many intervals are active on each day":
    each interval contributes a +1 event at its start and a −1 the day
    after it ends (deterministic synthetic duration ``1 +
    o_custkey % 30`` days), deltas aggregate per day, and a running sum
    over the CALENDAR (not the data) yields the active count.

    The naive days×intervals stabbing join is O(days·n); the sweep-line
    is one row-local 2-event explode + a partial-aggregated groupBy on
    day + a window over |days| rows.  Restricted to one year so the
    result (and the running-sum window) stays calendar-bounded."""
    dur = (F.col("o_custkey") % 30 + 1).cast("int")
    iv = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    ).select(
        F.col("o_orderdate").alias("lo"),
        F.date_add(F.col("o_orderdate"), dur).alias("hi_excl"),
    )
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("day"), F.lit(1).alias("d")),
                F.struct(F.col("hi_excl").alias("day"), F.lit(-1).alias("d")),
            )
        ).alias("e")
    ).select("e.day", "e.d")
    daily = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("open_orders", F.sum("delta").over(w))
        .filter(F.col("day") < F.lit("1996-01-01").cast("date"))
        .select(F.col("day").cast("string").alias("day"), "delta", "open_orders")
        .orderBy("day")
    )


def q_orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return open_backlog(load(spark, sf_dir, "orders"))


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value matrix — the acquisition-quality readout:
    customers cohorted by first-order month, revenue accumulated per
    (cohort, months-since-acquisition) cell.  Month arithmetic is
    ``year·12+month`` integers (engine-neutral; ``months_between`` has
    engine-specific fractional rules).

    Scale shape: first-order month is one groupBy on custkey; the
    cohort join is custkey-co-partitioned; the matrix aggregation is
    cohorts × months cells — calendar-bounded.  Revenue accumulates in
    decimal (order-free), converts to double once per cell."""
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first = orders.groupBy("o_custkey").agg(F.min(m).alias("m0"))
    j = orders.select(
        "o_custkey", m.alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    ).join(first, "o_custkey")
    return (
        j.groupBy(
            F.col("m0").cast("long").alias("cohort_month"),
            (F.col("m") - F.col("m0")).cast("long").alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("p").cast("double"), 2).alias("revenue"),
        )
        .orderBy("cohort_month", "months_since")
    )


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_ltv(load(spark, sf_dir, "orders"))


def psi_drift(events: DataFrame, nbins: int = 10, width: float = 10.0) -> DataFrame:
    """Population Stability Index between the first and last week's
    ``value`` distributions — THE production ML drift alarm (PSI > 0.2
    ⇒ investigate): fixed-width bins, per-bin expected vs actual share,
    ``PSI = Σ (a−e)·ln(a/e)``.

    Scale shape: two filtered one-pass bin counts (partial-aggregated,
    ≤ nbins rows out), a broadcast-joined bin spine so empty bins keep
    a floor share (the standard ε guard against ln 0), and the PSI sum
    runs over nbins rows.  Exact integer counts → IEEE doubles →
    round — engine-identical."""
    bin_col = F.least(
        F.floor(F.col("value") / width).cast("int"), F.lit(nbins - 1)
    )
    wk1 = events.filter(F.to_date("ts") < F.lit("2024-01-08").cast("date"))
    wk4 = events.filter(F.to_date("ts") >= F.lit("2024-01-22").cast("date"))

    def shares(df: DataFrame, alias: str) -> DataFrame:
        c = df.select(bin_col.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias("n")
        )
        t = c.agg(F.sum("n").alias("t"))
        return c.crossJoin(F.broadcast(t)).select(
            "bin", (F.col("n") / F.col("t")).alias(alias)
        )

    spine = events.sparkSession.range(0, nbins).select(F.col("id").cast("int").alias("bin"))
    eps = 1e-6
    j = (
        spine.join(shares(wk1, "e_share"), "bin", "left")
        .join(shares(wk4, "a_share"), "bin", "left")
        .select(
            "bin",
            F.greatest(F.coalesce("e_share", F.lit(0.0)), F.lit(eps)).alias("e"),
            F.greatest(F.coalesce("a_share", F.lit(0.0)), F.lit(eps)).alias("a"),
        )
    )
    return j.select(
        "bin",
        F.round("e", 6).alias("expected_share"),
        F.round("a", 6).alias("actual_share"),
        F.round((F.col("a") - F.col("e")) * F.log(F.col("a") / F.col("e")), 6).alias(
            "psi_term"
        ),
    ).orderBy("bin")


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi_drift(load_events(spark, sf_dir))


def rfm_segmentation(orders: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic customer scoring: per customer days-since-last-order,
    order count, total spend; each scored 1-5 by ``ntile(5)`` with a
    deterministic total order (metric, then custkey) so quintile
    boundaries are reproducible.

    Scale shape: one partial-aggregated groupBy on custkey builds the
    RFM triple; the three ntile windows are global (customer-table
    sized — the SMALL side of a retail warehouse; shard by region
    first if customers alone exceed a task)."""
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary_dec"),
    )
    anchor = F.lit("1998-12-31").cast("date")
    rfm = rfm.select(
        "o_custkey",
        F.datediff(anchor, F.col("last_order")).alias("recency_days"),
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
    )
    w_r = Window.orderBy(F.col("recency_days"), F.col("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.col("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.col("o_custkey"))
    return (
        rfm.withColumn("r_score", F.ntile(5).over(w_r))
        .withColumn("f_score", F.ntile(5).over(w_f))
        .withColumn("m_score", F.ntile(5).over(w_m))
        .select(
            "o_custkey", "recency_days", "frequency",
            F.round("monetary", 2).alias("monetary"),
            "r_score", "f_score", "m_score",
            F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment"),
        )
        .orderBy("o_custkey")
    )


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rfm_segmentation(load(spark, sf_dir, "orders"))


def bot_score(events: DataFrame, k: int = 20) -> DataFrame:
    """Composite bot/abuse score per user — the feature-fusion pattern
    of production abuse detection, built from three exact-count
    signals: LOW type-mix entropy (scripted clients hammer one type),
    HIGH event rate per active hour, HIGH night-hour share (00-06).
    Weighted sum, top-k most suspicious.

    Scale shape: every signal is a partial-aggregated groupBy on
    user_id (type counts, distinct active hours, night counts) joined
    on the same key — co-partitioned, no broadcast needed; the final
    ranking is a k-row ``TakeOrderedAndProject``."""
    counts = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("user_id").agg(F.sum("c").alias("n_events"))
    p = F.col("c") / F.col("n_events")
    ent = (
        counts.join(totals, "user_id")
        .groupBy("user_id")
        .agg((-F.sum(p * F.log2(p))).alias("entropy"))
    )
    hours = events.select(
        "user_id",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("bigint").alias("hr_idx"),
        F.hour("ts").alias("hod"),
    )
    activity = hours.groupBy("user_id").agg(
        F.countDistinct("hr_idx").alias("active_hours"),
        F.sum(F.when(F.col("hod") < 6, 1).otherwise(0)).alias("n_night"),
    )
    j = totals.join(ent, "user_id").join(activity, "user_id")
    rate = F.col("n_events") / F.col("active_hours")
    night = F.col("n_night") / F.col("n_events")
    max_ent = F.log2(F.lit(5.0))
    score = (
        0.4 * (1 - F.col("entropy") / max_ent)
        + 0.3 * F.least(F.lit(1.0), rate / 10)
        + 0.3 * night
    )
    return (
        j.select(
            "user_id",
            "n_events",
            F.round("entropy", 6).alias("entropy"),
            F.round(rate, 6).alias("rate"),
            F.round(night, 6).alias("night_share"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), "user_id")
        .limit(k)
    )


def q_events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bot_score(load_events(spark, sf_dir))


def activity_islands(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    days (start, end, length) — the classic streak/contiguity analysis,
    via the canonical ``date_index − row_number`` group key (constant
    within a consecutive run, jumps at every gap).

    Scale shape: events collapse to distinct (user, day) FIRST (the
    only big shuffle, heavily combinable map-side — same move as
    ``events-sliding-distinct``), then one bounded window (≤ calendar
    days per user) and one groupBy over the tiny day set."""
    days = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "grp",
        F.datediff("day", F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w),
    )
    return (
        anchored.groupBy("user_id", "grp")
        .agg(
            F.min("day").cast("string").alias("start_day"),
            F.max("day").cast("string").alias("end_day"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .drop("grp")
        .orderBy("user_id", "start_day")
    )


def q_events_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return activity_islands(load_events(spark, sf_dir))


# -------------------------------------------------------- table profile

def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profile: rows / nulls / exact distinct counts per
    column — the automated version of the reference's per-column
    enrichment snapshot (`/root/reference/pandasqlite/pandasqlite.py:283-307`
    samples values per column for the LLM; this profiles them).

    A single agg computes every stat (Catalyst plans multi-distinct via
    one Expand: cols× the scan rows shuffled, each partially
    aggregated — one pass over the table, not one pass per column),
    then a `stack` unpivots the 1-row result driver-side."""
    aggs = []
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    row = df.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return (
        row.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_notnull, n_distinct)",
        )
        .select(
            "col_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_notnull")).alias("n_null"),
            "n_distinct",
        )
        .orderBy("col_name")
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_table(
        load(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"],
    )


def skyline_2d(
    df: DataFrame, minimize: str, maximize: str, id_col: str
) -> DataFrame:
    """2-D skyline (Pareto-optimal set): rows no other row dominates,
    where q dominates p iff q.minimize ≤ p.minimize ∧ q.maximize ≥
    p.maximize with at least one strict.  (The multi-criteria "best
    trade-offs" operator — e.g. cheapest-vs-largest parts; Spark has no
    native skyline; cf. "Integration of Skyline Queries into Spark
    SQL", EDBT 2023, for the operator's distributed formulation.)

    In 2-D the sort-based algorithm needs no pairwise joins: after
    sorting by (min-dim asc), p survives iff no strictly-cheaper row
    reaches its maximize value (running max) and no same-price row
    strictly beats it.  Two window passes — vs the naive NOT EXISTS
    self-join's O(n²) pairs (which the DuckDB oracle uses, pinning the
    same semantics).

    Scale shape — the classic two-phase skyline: phase 1 computes the
    LOCAL skyline inside arbitrary hash buckets (any subset's skyline
    is a superset of the global skyline's members in that subset, so
    this is a lossless, embarrassingly parallel filter that typically
    drops ~everything); phase 2 re-runs the same two windows globally
    over the few survivors.  The global window runs single-partition
    by construction — acceptable only BECAUSE phase 1 bounded the
    row count."""
    from pyspark.sql import Window

    def _local(d: DataFrame, part_cols: list[str]) -> DataFrame:
        # collapse to one row per price first: the ROWS frame over the
        # distinct-price series is then exactly "strictly cheaper"
        # (a RANGE/ROWS frame on the raw rows can't express that — a
        # numeric RANGE offset is value-based, and a ROWS -1 frame
        # would include same-price rows)
        per_price = d.groupBy(*(part_cols + [minimize])).agg(
            F.max(maximize).alias("_pmax")
        )
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(minimize)
            .rowsBetween(Window.unboundedPreceding, -1)
            if part_cols
            else Window.orderBy(minimize).rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        cheap_max = per_price.select(
            *(part_cols + [minimize, "_pmax"]),
            F.max("_pmax").over(w).alias("_m1"),
        )
        joined = d.join(cheap_max, part_cols + [minimize])
        dominated = (F.col("_m1") >= F.col(maximize)) | (
            F.col("_pmax") > F.col(maximize)
        )
        return (
            joined.withColumn("_dom", F.coalesce(dominated, F.lit(False)))
            .filter(~F.col("_dom"))
            .drop("_dom", "_m1", "_pmax")
        )

    buckets = df.select(
        id_col, minimize, maximize,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(32)).alias("_b"),
    )
    survivors = _local(buckets, ["_b"]).drop("_b")
    return _local(survivors, []).orderBy(id_col)


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skyline_2d(
        load(spark, sf_dir, "part"),
        minimize="p_retailprice",
        maximize="p_size",
        id_col="p_partkey",
    )


def rank_similarity_pairs(events: DataFrame, max_dist: int = 4) -> DataFrame:
    """Similarity join over per-user *rankings* (cf. "Distributed
    Similarity Joins over Top-K Rankings", EDBT 2020): each user ranks
    the event types by frequency (count desc, type asc tiebreak —
    absent types rank last with count 0, so every ranking is a full
    permutation), and user pairs whose Spearman-footrule distance
    Σ|rankₐ(t) − rank_b(t)| is ≤ ``max_dist`` are emitted.

    Blocking (the scale lever, same design as the blocked
    Levenshtein join): candidates must share the top-ranked type — for
    footrule ≤ 1 that is provably necessary (a top-1 swap alone costs
    2), for the looser default it is the declared candidate contract,
    bounding pairs at Σ C(|top-1 block|, 2) instead of C(|users|, 2).
    The distance computes via one equi-join on (type) per pair batch +
    a partial-aggregated groupBy — integer arithmetic end to end."""
    from pyspark.sql import Window

    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    users = events.select("user_id").distinct()
    types = events.select("event_type").distinct()
    grid = users.crossJoin(F.broadcast(types))
    full = grid.join(counts, ["user_id", "event_type"], "left").select(
        "user_id", "event_type", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    ranks = full.select(
        "user_id", "event_type", F.row_number().over(w).alias("r")
    )
    # ---- value-domain collapse (round 7, SCHEMA BREAK — deliberate):
    # through round 6 this key emitted the (ua, ub, footrule) pair
    # LIST.  The footrule is a function of the ranking PERMUTATION
    # alone, and a corpus has at most |types|! distinct rankings (119
    # observed at sf10 across 150k users), so user pairs collapse into
    # ranking-pair weight products — while the pair list itself is the
    # quadratic object (~105M intra pairs at sf10 alone; its engine
    # shuffle filled the sweep machine's disk).  The readout is now the
    # exact per-distance HISTOGRAM (footrule, n_pairs, n_users) for
    # d <= max_dist, computed entirely in the ranking domain: cross
    # pairs count na*nb over top-1-blocked distinct-ranking pairs,
    # same-ranking pairs count C(n,2) at d = 0, and n_users sums the
    # member counts of the distinct rankings involved at each distance.
    # Same phash-pairs precedent as round 6 (key name kept for ledger
    # continuity; consumers of the pair list must migrate).
    users = ranks.filter(F.col("user_id").isNotNull())
    vec = users.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("r", "event_type"))),
                lambda s: s["event_type"],
            ),
            "|",
        ).alias("rv")
    )
    gsz = vec.groupBy("rv").agg(F.count(F.lit(1)).alias("n_members"))
    rv_ranks = gsz.select(
        "rv", F.posexplode(F.split("rv", r"\|")).alias("r0", "event_type")
    ).select("rv", "event_type", (F.col("r0") + 1).alias("r"))
    t1 = F.split(F.col("rv"), r"\|").getItem(0)
    a = gsz.select(F.col("rv").alias("rva"), F.col("n_members").alias("na"), t1.alias("t1"))
    b = gsz.select(F.col("rv").alias("rvb"), F.col("n_members").alias("nb"), t1.alias("t1"))
    rep_pairs = a.join(b, "t1").filter(F.col("rva") < F.col("rvb"))
    fr = (
        rep_pairs.join(
            rv_ranks.select(F.col("rv").alias("rva"), "event_type", F.col("r").alias("r_a")),
            "rva",
        )
        .join(
            rv_ranks.select(F.col("rv").alias("rvb"), "event_type", F.col("r").alias("r_b")),
            ["rvb", "event_type"],
        )
        .groupBy("rva", "rvb", "na", "nb")
        .agg(F.sum(F.abs(F.col("r_a") - F.col("r_b"))).alias("footrule"))
        .filter(F.col("footrule") <= max_dist)
    )
    cross_np = fr.groupBy("footrule").agg(
        F.sum(F.col("na").cast("bigint") * F.col("nb").cast("bigint")).alias("np")
    )
    intra_np = gsz.agg(
        F.sum(
            F.col("n_members").cast("bigint")
            * (F.col("n_members") - 1).cast("bigint")
            / F.lit(2)
        )
        .cast("bigint")
        .alias("np")
    ).select(F.lit(0).cast("bigint").alias("footrule"), "np")
    n_pairs = (
        cross_np.select(F.col("footrule").cast("bigint"), "np")
        .unionByName(intra_np)
        .groupBy("footrule")
        .agg(F.sum("np").alias("n_pairs"))
    )
    flagged = (
        fr.select("footrule", F.col("rva").alias("rv"))
        .unionByName(fr.select("footrule", F.col("rvb").alias("rv")))
        .unionByName(
            gsz.filter(F.col("n_members") >= 2).select(
                F.lit(0).cast("bigint").alias("footrule"), "rv"
            )
        )
        .select(F.col("footrule").cast("bigint"), "rv")
        .distinct()
        .join(gsz, "rv")
        .groupBy("footrule")
        .agg(F.sum(F.col("n_members").cast("bigint")).alias("n_users"))
    )
    return (
        n_pairs.join(flagged, "footrule")
        .select("footrule", "n_pairs", "n_users")
        .orderBy("footrule")
    )


def q_rank_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rank_similarity_pairs(load_events(spark, sf_dir))


def validate_expectations(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Declarative data-quality gate (dbt tests / Great Expectations /
    Delta CHECK constraints): evaluate a suite of expectations and emit
    one row per check — ``(check_name, n_violations, passed)`` — so a
    pipeline can assert ``bool_and(passed)`` before publishing a table.

    Scale shape: the four row-level checks (not-null, uniqueness,
    range, domain) compute in ONE aggregate pass over orders
    (conditional sums + one count-distinct Expand), then ``stack``
    unpivots the 1-row result; the referential-integrity check is a
    LEFT ANTI join of lineitem's order keys against orders —
    shuffle-on-key with AQE, or a broadcast of the dim at real fact/dim
    ratios.  Nothing scans the fact table twice."""
    row = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "v_notnull"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_unique"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("v_range"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("v_domain"),
    )
    checks = row.selectExpr(
        "stack(4,"
        " 'o_orderkey_not_null', v_notnull,"
        " 'o_orderkey_unique',   v_unique,"
        " 'o_totalprice_nonneg', v_range,"
        " 'o_orderstatus_domain', v_domain"
        ") AS (check_name, n_violations)"
    )
    orphans = (
        lineitem.join(orders.select("o_orderkey"),
                      lineitem.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("l_orderkey_refs_orders").alias("check_name"), "n_violations")
    )
    return (
        checks.unionByName(orphans)
        .select("check_name", "n_violations", (F.col("n_violations") == 0).alias("passed"))
        .orderBy("check_name")
    )


def state_dwell_times(events: DataFrame) -> DataFrame:
    """Time-weighted state occupancy: how long users SIT in each
    event-type state (the gap to their next event), not how often they
    enter it — the telemetry view that separates a frequent-but-brief
    state from a rare-but-sticky one.

    Scale shape: one `lead` window partitioned on user_id (the same
    single user-key shuffle as sessionization), then one partial-
    aggregated groupBy on the 5-value type key.  Gap micros are exact
    integers; totals accumulate in DECIMAL(38,0) (10¹² rows × hour-long
    gaps overflows BIGINT); mean becomes double only at the end."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        events.select("user_id", "event_id", "ts", "event_type")
        .withColumn("gap_us", F.lead(us).over(w) - us)
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("total_us"),
        )
        .select(
            "event_type",
            "n_intervals",
            F.col("total_us").cast("bigint").alias("total_us"),
            F.round(
                (F.col("total_us").cast("double") / F.col("n_intervals").cast("double"))
                / F.lit(1000000.0),
                6,
            ).alias("mean_dwell_s"),
        )
        .orderBy("event_type")
    )


def q_events_state_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    return state_dwell_times(load_events(spark, sf_dir))


def winsorized_mean(orders: DataFrame) -> DataFrame:
    """Per-group winsorized mean (clip at the exact P5/P95 order
    statistics, then average) — the robust center that keeps every row,
    unlike a trimmed mean, and resists the fat tails a plain AVG
    doesn't.

    The percentile is SELECTION, not interpolation: bound ranks come
    from integer arithmetic (``ceil(q·n) = (q·n + 99) div 100``), the
    bound VALUES from one rank window per group, so no float percentile
    enters the clip.  Clipped sums stay DECIMAL; only the final means
    are doubles.

    Scale shape: the rank window partitions on the 5-value group key —
    an exact per-group percentile needs that per-group sort; at extreme
    group sizes substitute the equi-depth histogram key
    (histogram-equi-depth) and clip at approximate bounds instead."""
    # null-pin: winsorization is defined over OBSERVED values — a null
    # price would land at a different end of each engine's sort and
    # shift the P5/P95 selection ranks
    base = orders.filter(F.col("o_totalprice").isNotNull()).select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        "o_orderkey",
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("p", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    ranked = base.withColumn("rn", F.row_number().over(wr)).withColumn(
        "cnt", F.count(F.lit(1)).over(wc)
    )
    lo_rank = F.expr("(cnt * 5 + 99) div 100")
    hi_rank = F.expr("(cnt * 95 + 99) div 100")
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("p"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("p"))).alias("hi"),
    )
    clipped = base.join(F.broadcast(bounds), "o_orderpriority").withColumn(
        "cp",
        F.when(F.col("p") < F.col("lo"), F.col("lo"))
        .when(F.col("p") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("p")),
    )
    return (
        clipped.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("lo").cast("double").alias("p5"),
            F.min("hi").cast("double").alias("p95"),
            F.sum("cp").alias("s_clip"),
            F.sum("p").alias("s_raw"),
        )
        .select(
            "o_orderpriority",
            "n_rows",
            F.col("p5").cast("double").alias("p5"),
            F.col("p95").cast("double").alias("p95"),
            F.round(
                F.col("s_clip").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("winsorized_mean"),
            F.round(
                F.col("s_raw").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("raw_mean"),
        )
        .orderBy("o_orderpriority")
    )


def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winsorized_mean(load(spark, sf_dir, "orders"))


def log2_histogram(orders: DataFrame) -> DataFrame:
    """Power-of-two (HDR-style) histogram of order values — the
    latency/size-distribution view with constant bucket count over any
    range.  The bucket index is ``floor(log2(v))+1`` computed as the
    BINARY DIGIT COUNT of the floored integer (`length(bin(x))`) —
    pure integer arithmetic, immune to the 1-ulp `log2()` boundary
    drift that flips ``floor`` at exact powers of two.  One row-local
    projection + one ≤64-group partial-aggregated groupBy."""
    dollars = F.expr("CAST(floor(o_totalprice) AS BIGINT)")
    bucket = F.length(F.bin(dollars)).alias("bucket")
    return (
        orders.select(bucket, F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("p").alias("rev"))
        .select(
            "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)").alias("lo_dollars"),
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
        )
        .orderBy("bucket")
    )


def q_agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return log2_histogram(load(spark, sf_dir, "orders"))


PATH_LEN = 5
PATH_TOPK = 10


def top_user_paths(
    events: DataFrame, depth: int = PATH_LEN, k: int = PATH_TOPK
) -> DataFrame:
    """Top-k user journeys: each user's first ``depth`` event types
    joined into a path string, counted across users — the
    journey-mining readout behind funnel design (which flows actually
    happen vs the one you instrumented for).

    Scale shape: one rank window on the user key keeps only ``depth``
    rows per user (filter BEFORE the path build), the path assembles
    row-locally via sort-by-rank structs, and the path groupBy
    partial-aggregates — the shuffle carries ≤ one short string per
    user, then one row per distinct path."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_n = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= depth)
    )
    paths = first_n.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(k)
    )


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_user_paths(load_events_timeline(spark, sf_dir))


def pareto_coverage(orders: DataFrame) -> DataFrame:
    """Revenue-concentration curve (the 80/20 readout): customers
    ranked by spend, bucketed into deciles by INTEGER arithmetic
    (`((rank−1)·10) div n + 1` — no float percentile), with each
    decile's exact decimal revenue and the cumulative share.

    Scale shape: one groupBy collapses orders to per-customer totals;
    the rank window and the 10-row decile aggregate run on the customer
    aggregate, not the fact table; revenue stays DECIMAL end-to-end and
    shares divide exact decimals only in the final projection."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    n = Window.partitionBy()
    ranked = per_cust.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_cust", F.count(F.lit(1)).over(n)
    )
    deciles = (
        ranked.withColumn("decile", F.expr("((rnk - 1) * 10) div n_cust + 1"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("rev").alias("rev"))
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    return (
        deciles.withColumn("cum_rev", F.sum("rev").over(wc))
        .withColumn("total_rev", F.sum("rev").over(total))
        .select(
            "decile",
            "n_customers",
            F.round(
                F.col("rev").cast("double") / F.col("total_rev").cast("double"), 6
            ).alias("rev_share"),
            F.round(
                F.col("cum_rev").cast("double") / F.col("total_rev").cast("double"),
                6,
            ).alias("cum_rev_share"),
        )
        .orderBy("decile")
    )


def q_agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pareto_coverage(load(spark, sf_dir, "orders"))


ATTRIB_LOOKBACK_H = 72


def last_touch_attribution(
    events: DataFrame, lookback_h: int = ATTRIB_LOOKBACK_H
) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRECEDING click within the lookback window — the
    marketing-analytics join every conversion report starts from,
    expressed as one window pass instead of a per-purchase range join.

    Scale shape: one window partitioned on user_id over the
    click∪purchase sub-stream (filter pushed to the scan) carrying the
    last-click (ts, id) forward; gap arithmetic on exact epoch micros.
    A mega-user key skews the window partition the same way
    sessionization does — the two-phase salted pattern
    (events-session-two-phase) applies unchanged."""
    sub = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    is_click = F.col("event_type") == "click"
    sub = sub.withColumn(
        "click_us", F.last(F.when(is_click, F.unix_micros(F.col("ts"))), True).over(w)
    ).withColumn("click_id", F.last(F.when(is_click, F.col("event_id")), True).over(w))
    gap_us = F.unix_micros(F.col("ts")) - F.col("click_us")
    in_window = F.col("click_us").isNotNull() & (
        gap_us <= F.lit(lookback_h * 3600 * 1000000)
    )
    return (
        sub.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.when(in_window, F.col("click_id")).alias("attributed_click_id"),
            F.when(
                in_window, F.expr("(unix_micros(ts) - click_us) div 1000000")
            ).alias("gap_s"),
        )
        .orderBy("purchase_id")
    )


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_touch_attribution(load_events(spark, sf_dir))


def welch_ttest(events: DataFrame) -> DataFrame:
    """Welch's unequal-variance t-test on purchase value, week 1 vs
    week 4 — the drift significance test to PSI's magnitude readout
    (and the t complement of the A/B z-test, correct when variances
    differ).  Counts/sums accumulate exactly (integral cents, DECIMAL
    sums); means, variances, the t statistic and Welch–Satterthwaite
    df evaluate in a fixed double sequence on one conditional-aggregate
    row — two partial-aggregated groupBy rows, NO scalar-broadcast
    join."""
    wk = F.when(
        F.to_date("ts") < F.lit("2024-01-08").cast("date"), "a"
    ).when(F.to_date("ts") >= F.lit("2024-01-22").cast("date"), "b")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    g = (
        events.filter(F.col("event_type") == "purchase")
        .select(wk.alias("grp"), cents.alias("x"))
        .filter(F.col("grp").isNotNull())
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("s2"),
        )
    )
    one = g.agg(
        *[
            F.min(F.when(F.col("grp") == c, F.col(f))).alias(f"{f}_{c}")
            for c in ("a", "b")
            for f in ("n", "s1", "s2")
        ]
    )

    def stats(c):
        nd = F.col(f"n_{c}").cast("double")
        s1 = F.col(f"s1_{c}").cast("double")
        s2 = F.col(f"s2_{c}").cast("double")
        m = s1 / nd
        var = (s2 - (s1 * s1) / nd) / (nd - F.lit(1.0))
        return nd, m, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = (ma - mb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (sea * sea) / (na - F.lit(1.0)) + (seb * seb) / (nb - F.lit(1.0))
    )
    return one.select(
        F.col("n_a").alias("n_week1"),
        F.col("n_b").alias("n_week4"),
        F.round(ma - mb, 6).alias("mean_diff_cents"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
    )


def q_agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return welch_ttest(load_events(spark, sf_dir))


def class_balanced_sample(docs: DataFrame, label_col: str = "lang") -> DataFrame:
    """Class-balanced downsampling: every class keeps exactly
    min-class-size rows, picked by md5 rank (reproducible in any
    engine/partitioning — no RNG stream) — the imbalance fix before
    training a classifier, vs ``sample-stratified``'s proportional
    draw.

    One groupBy-free pass: a rank window per class orders by the md5
    draw, a count window per class and a global-min window derive the
    cap, and the filter keeps rank ≤ cap.  The only shuffle is the
    class-key window partitioning."""
    wall = Window.partitionBy()
    ranked = (
        docs.select("doc_id", F.col(label_col).alias("label"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("label").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        ))
        .withColumn("n_class", F.count(F.lit(1)).over(Window.partitionBy("label")))
        .withColumn("cap", F.min("n_class").over(wall))
    )
    return (
        ranked.filter(F.col("rn") <= F.col("cap"))
        .select("doc_id", "label")
        .orderBy("doc_id")
    )


def q_sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    return class_balanced_sample(load(spark, sf_dir, "documents"))


def markov_accuracy(events: DataFrame) -> DataFrame:
    """Backtest of the first-order Markov next-event model: transition
    counts from weeks 1–3 pick an argmax prediction per from-state,
    scored on week-4 transitions — the eval that turns the transition
    matrix into a measured predictor (same pattern as the seasonal
    forecast and Naive Bayes keys: model = tiny aggregate, inference =
    broadcast join).

    All counts exact; accuracy divides exact longs.  The model is
    |types|² rows; the only fact-table work is the same single
    user-key lag window the transition matrix uses."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .select(
            "from_type",
            F.col("event_type").alias("to_type"),
            F.to_date("ts").alias("day"),
        )
    )
    split = F.lit("2024-01-22").cast("date")
    counts = (
        tr.filter(F.col("day") < split)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wbest = Window.partitionBy("from_type").orderBy(
        F.col("c").desc(), F.col("to_type")
    )
    model = (
        counts.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("pred"))
    )
    test = tr.filter(F.col("day") >= split)
    return (
        test.join(F.broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("to_type") == F.col("pred"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "from_type",
            "n_test",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_test").cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("from_type")
    )


def q_events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_accuracy(load_events(spark, sf_dir))


def wow_growth(events: DataFrame) -> DataFrame:
    """Week-over-week growth — the BI pulse metric: weekly event counts
    with the previous week and the relative change.  Week index is
    integer `datediff div 7` (engine/timezone-neutral); growth divides
    exact longs in double.  The stream collapses to |weeks| rows before
    the 1-row-per-week lag window."""
    weekly = (
        events.select(F.expr(
            "datediff(to_date(ts), DATE '2024-01-01') div 7"
        ).alias("week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # null-pin: NULLS LAST (DuckDB's ASC default) so the null-ts week
    # bucket doesn't become week 0's lag neighbor on one engine only
    w = Window.orderBy(F.col("week").asc_nulls_last())
    return (
        weekly.withColumn("prev", F.lag("n_events").over(w))
        .select(
            "week",
            "n_events",
            "prev",
            F.round(
                F.col("n_events").cast("double") / F.col("prev").cast("double")
                - F.lit(1.0),
                6,
            ).alias("growth"),
        )
        .orderBy("week")
    )


def q_events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wow_growth(load_events(spark, sf_dir))


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_feature_matrix(events: DataFrame) -> DataFrame:
    """Feature-store materialization: ONE wide row per user with the
    standard behavioral features (per-type counts pivoted, total,
    active days, tenure, last-seen) — the assembly step between raw
    events and any churn/propensity model, expressed as a single
    partial-aggregated groupBy (conditional sums pivot the 5 types;
    no join chain, no per-feature scans).

    Everything is exact integer arithmetic (micros/days/counts), so
    the row hash-matches any engine."""
    day = F.to_date("ts")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            *aggs,
            F.countDistinct(day).alias("active_days"),
            F.datediff(F.max(day), F.min(day)).alias("tenure_days"),
            F.max(F.unix_micros(F.col("ts"))).alias("last_seen_us"),
        )
        .orderBy("user_id")
    )


def q_events_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_feature_matrix(load_events(spark, sf_dir))


PEAK_NEIGHBORS = 2


def hourly_peaks(events: DataFrame, w: int = PEAK_NEIGHBORS) -> DataFrame:
    """Local-maximum detection on the hourly count series: an hour is a
    peak when STRICTLY greater than its ``w`` neighbors on each side —
    the alarm-worthy-spike primitive beside CUSUM (level shifts) and
    MAD (point outliers).  Pure integer comparisons on the |hours|
    aggregate; edge hours (fewer than w neighbors) are not peaks."""
    hc = (
        events.select(F.date_trunc("hour", F.col("ts")).alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    win = Window.orderBy("hr")
    cond = None
    out = hc
    for j in range(1, w + 1):
        out = out.withColumn(f"p{j}", F.lag("x", j).over(win)).withColumn(
            f"n{j}", F.lead("x", j).over(win)
        )
        c = (
            F.col(f"p{j}").isNotNull()
            & F.col(f"n{j}").isNotNull()
            & (F.col("x") > F.col(f"p{j}"))
            & (F.col("x") > F.col(f"n{j}"))
        )
        cond = c if cond is None else (cond & c)
    return (
        out.filter(cond)
        .select(F.col("hr").cast("string").alias("hr"), "x")
        .orderBy("hr")
    )


def q_events_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_peaks(load_events(spark, sf_dir))


BOUNCE_GAP_MIN = 30


def bounce_rate(events: DataFrame, gap_min: int = BOUNCE_GAP_MIN) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one
    event — the engagement KPI layered on gap-based sessionization
    (30-min inactivity splits sessions, the analytics-industry
    convention).  Same single user-key window as events-session-agg;
    session counts collapse to |days| rows before the final ratio of
    exact longs."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_us = gap_min * 60 * 1_000_000
    marked = events.select("user_id", "event_id", "ts").withColumn(
        "new_s",
        F.when(
            (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.to_date("ts")).alias("day"),
    )
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double") / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bounce_rate(load_events_timeline(spark, sf_dir))


WILSON_Z = 1.96  # 95% — identical literal in both engines


def wilson_intervals(events: DataFrame, z: float = WILSON_Z) -> DataFrame:
    """Wilson score interval for the daily purchase rate — the
    correct small-n confidence band for proportions (a normal
    approximation goes negative near 0 and degenerates at tiny daily
    counts; Wilson stays inside [0,1]).  Completes the uncertainty
    trio: bootstrap (means), Welch t (differences), Wilson
    (proportions).

    Counts are exact longs from one partial-aggregated groupBy; the
    interval evaluates in a fixed double sequence per |days| row."""
    day = F.to_date("ts")
    g = events.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    p = kd / nd
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(z)
        * F.sqrt((p * (F.lit(1.0) - p)) / nd + z2 / ((F.lit(4.0) * nd) * nd))
        / denom
    )
    return g.select(
        F.col("day").cast("string").alias("day"),
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("day")


def q_events_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wilson_intervals(load_events(spark, sf_dir))


def supplier_scorecard(lineitem: DataFrame) -> DataFrame:
    """Supplier scorecard — the multi-metric vendor report: exact
    decimal revenue, return share, and average discount per supplier,
    ranked by revenue (top 20).  ONE partial-aggregated groupBy over
    the fact table; revenue accumulates as DECIMAL(22,4) (the TPC-H Q1
    discipline — a double sum is partitioning-order-dependent), ratios
    divide exact counts, and the top-k is TakeOrderedAndProject."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    rev = (price * (F.lit(1).cast("decimal(3,2)") - disc)).alias("rev")
    g = lineitem.select(
        "l_suppkey",
        rev,
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        disc.alias("d"),
    ).groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("rev").alias("revenue"),
        F.sum("ret").alias("n_returned"),
        F.sum("d").alias("d_sum"),
    )
    return (
        g.select(
            "l_suppkey",
            "n_lines",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines").cast("double"),
                6,
            ).alias("return_share"),
            F.round(
                F.col("d_sum").cast("double") / F.col("n_lines").cast("double"), 6
            ).alias("avg_discount"),
        )
        .orderBy(F.col("revenue").desc(), "l_suppkey")
        .limit(20)
    )


def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_scorecard(load(spark, sf_dir, "lineitem"))


def monthly_seasonality(orders: DataFrame) -> DataFrame:
    """Calendar-month seasonality index of order revenue across all
    years: index > 1 means the month over-performs the flat-calendar
    expectation (12·month_share).  Exact decimal revenue per month (12
    groups), total via a window sum over the 12-row aggregate, one
    double ratio at the end."""
    m = F.month(F.col("o_orderdate")).alias("month")
    g = orders.select(
        m, F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    ).groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("p").alias("rev")
    )
    total = Window.partitionBy()
    return (
        g.withColumn("total", F.sum("rev").over(total))
        .select(
            "month",
            "n_orders",
            F.round(
                F.lit(12.0)
                * (F.col("rev").cast("double") / F.col("total").cast("double")),
                6,
            ).alias("seasonality_index"),
        )
        .orderBy("month")
    )


def q_orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return monthly_seasonality(load(spark, sf_dir, "orders"))


def daily_type_mix(events: DataFrame) -> DataFrame:
    """Daily event-type composition — the stacked-area/mix-shift feed
    (the day-granular companion to the PSI drift alarm: PSI says THAT
    the mix moved, this shows WHERE).  One partial-aggregated groupBy
    to |days|×|types| cells, day totals as window sums over those
    cells, exact-long shares."""
    cells = (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("day")
    return (
        cells.withColumn("day_total", F.sum("n").over(tot))
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("day_total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("day", "event_type")
    )


def q_events_daily_type_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_type_mix(load_events(spark, sf_dir))


def referential_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile of the whole schema: one row per
    declared FK relationship with child cardinality and orphan count —
    the first audit run against any newly-landed warehouse drop (and
    the one that catches partial loads: orphans ≠ 0 on a relationship
    that was clean yesterday).

    Scale shape: each relationship is ONE left join of the child
    against the parent's distinct key (dims broadcast at real fact/dim
    ratios; the fact-fact case shuffles on the key with AQE), with row
    and orphan counts collapsing in the same aggregate pass — the child
    is never scanned twice per relationship.  The 7 one-row results
    union into the report."""
    rels = [
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ]
    parts = []
    for name, child_t, ck, parent_t, pk in rels:
        child = load(spark, sf_dir, child_t).select(F.col(ck).alias("ck"))
        parent = (
            load(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("pk"))
            .distinct()
        )
        parts.append(
            child.join(parent, child.ck == parent.pk, "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                # count, not sum-of-case: COUNT over an empty child is
                # 0 (never NULL), so `intact` stays boolean on the
                # empty/post-pruning input — the oracle's COUNT(*) form
                F.count(F.when(F.col("pk").isNull(), F.lit(1))).alias("n_orphans"),
            )
            .select(F.lit(name).alias("relationship"), "n_child", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("intact", F.col("n_orphans") == 0).orderBy("relationship")


def q_validate_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    return referential_profile(spark, sf_dir)


def q_validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate_expectations(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


# ------------------------------------------------------ z-order layout

_Z_BITS = 8


def _zorder_sql(x: str, y: str, div: str) -> str:
    """Bit-interleave two ``_Z_BITS``-bit keys into a z-value using only
    div/mod/multiply — identical semantics in Spark SQL (``div``) and
    DuckDB (``//``), no engine-specific bit operators."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (custkey, orderkey) low
    bits — the multi-dimensional sort key used to cluster 100 TB tables
    so range predicates on EITHER dimension prune row groups
    (Delta/Iceberg `OPTIMIZE ZORDER BY` does exactly this before a
    repartitionByRange + sortWithinPartitions write).  Row-local integer
    arithmetic; the ordering itself would be the range-partitioned
    write's job."""
    o = load(spark, sf_dir, "orders")
    z = F.expr(_zorder_sql(f"(o_custkey % {1 << _Z_BITS})",
                           f"(o_orderkey % {1 << _Z_BITS})", "div"))
    return (
        o.select("o_orderkey", "o_custkey", z.cast("int").alias("zval"))
        .orderBy("zval", "o_orderkey")
        .limit(200)
    )


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle key: key count,
    total rows, max/median/p90/p99 rows-per-key (exact, selected by
    row_number — integer arithmetic end to end) and ``skew_x100`` =
    ``max * 100 / median`` (integer division).  This is the check you
    run BEFORE picking a join/groupBy key at 100 TB: skew_x100 in the
    thousands means the hottest key holds 10×+ the median reducer's
    rows and needs salting (`join-skew-salted`) or AQE skew splitting.

    Scale shape: one partial-aggregated groupBy over the key, then
    window + aggregation over |keys| rows (tiny next to the table).
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("n", key)
    ranked = counts.select(
        "n", F.row_number().over(w).alias("rn"), F.count(F.lit(1)).over(Window.partitionBy()).alias("n_keys")
    )
    pick = lambda q: F.max(  # noqa: E731 — value at the exact q-quantile position
        F.when(F.col("rn") == F.ceil(F.col("n_keys") * q).cast("int"), F.col("n"))
    )
    return ranked.agg(
        F.max("n_keys").alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_n"),
        pick(0.5).alias("p50_n"),
        pick(0.9).alias("p90_n"),
        pick(0.99).alias("p99_n"),
    ).select(
        "*",
        F.floor(F.col("max_n") * 100 / F.col("p50_n")).cast("bigint").alias("skew_x100"),
    )


def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_skew_profile(load_events(spark, sf_dir), "user_id")


def percentile_bands(events: DataFrame) -> DataFrame:
    """Hourly p50/p95 bands of ``value`` per event type — the
    latency-percentile chart every observability pipeline draws.
    EXACT percentiles by row_number selection over the (value,
    event_id) total order (no interpolation, no t-digest drift): both
    engines pick the identical stored double.

    Scale shape: one shuffle on (event_type, hour) shared by the rank
    window and the final groupBy (same partitioning ⇒ one Exchange);
    per-group state is bounded because the hour bucket is in the key.
    At extreme per-group cardinality swap the exact selection for
    ``approx_percentile`` — same output columns, t-digest error bound.
    """
    ev = events.select(
        "event_type",
        "value",
        "event_id",
        (F.unix_micros("ts") / 3_600_000_000).cast("bigint").alias("hr_bucket"),
    )
    w = Window.partitionBy("event_type", "hr_bucket").orderBy("value", "event_id")
    cnt = F.count(F.lit(1)).over(
        Window.partitionBy("event_type", "hr_bucket")
    )
    ranked = ev.select(
        "event_type",
        "hr_bucket",
        "value",
        F.row_number().over(w).alias("rn"),
        cnt.alias("n"),
    )
    pick = lambda q: F.max(  # noqa: E731 — value at the exact quantile position
        F.when(F.col("rn") == F.ceil(F.col("n") * q).cast("int"), F.col("value"))
    )
    return (
        ranked.groupBy("event_type", "hr_bucket")
        .agg(F.max("n").alias("n"), pick(0.5).alias("p50"), pick(0.95).alias("p95"))
        .orderBy("event_type", "hr_bucket")
    )


def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return percentile_bands(load_events(spark, sf_dir))


def equi_depth_histogram(df: DataFrame, part_col: str, val_col: str, key: str, n_tiles: int = 4) -> DataFrame:
    """Equi-depth (equal-count) histogram per partition column: NTILE
    over the (value, key) total order gives each tile ±1 rows; min/max
    per tile are the bucket boundaries — the NDV-robust histogram a
    cost model or data-skew report wants (equi-WIDTH starves on skewed
    values; equi-depth never does).

    One shuffle on ``part_col`` shared by the NTILE window and the
    groupBy.  The window partitions on a real key (never a global
    NTILE, which would serialize the table through one task); at scale
    the per-key row count bounds task size.
    """
    # null-pin: NULLS LAST explicit (matches DuckDB's ASC default) so a
    # nullable value column lands in the same tiles on both engines
    w = Window.partitionBy(part_col).orderBy(
        F.col(val_col).asc_nulls_last(), F.col(key).asc_nulls_last()
    )
    return (
        df.select(part_col, val_col, F.ntile(n_tiles).over(w).alias("tile"))
        .groupBy(part_col, "tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(val_col).alias("lo"),
            F.max(val_col).alias("hi"),
        )
        .orderBy(part_col, "tile")
    )


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return equi_depth_histogram(
        load(spark, sf_dir, "customer"), "c_nationkey", "c_acctbal", "c_custkey"
    )


def cumulative_dau(events: DataFrame) -> DataFrame:
    """Daily active users + cumulative distinct users over time.  The
    naive running COUNT(DISTINCT) re-scans history per day; instead
    each user contributes once at their FIRST-seen day (one groupBy on
    user_id), daily tallies aggregate that tiny table, and the running
    sum is a window over |days| rows — bounded by the calendar, not
    the data.  DAU itself is a per-(day) distinct over the events.
    """
    by_day = events.select(F.to_date("ts").alias("day"), "user_id")
    dau = by_day.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    first_seen = by_day.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    # null-pin: NULLS LAST running sum (DuckDB's ASC default) so the
    # null-day bucket accumulates at the end on both engines
    w = Window.orderBy(F.col("day").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dau.join(new_users, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cum_users", F.sum("new_users").over(w))
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "new_users",
            "cum_users",
        )
        .orderBy("day")
    )


def q_cumulative_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cumulative_dau(load_events(spark, sf_dir))


def basket_pair_lift(lineitem: DataFrame, min_support: int = 20, top_n: int = 50) -> DataFrame:
    """Market-basket co-occurrence: for part pairs appearing together
    in ≥ ``min_support`` orders, support count and lift×10⁶ (integer —
    ``lift = n_ab·N / (n_a·n_b)`` computed as exact integer division
    after scaling, no float aggregation).  Top pairs by (support desc,
    pair) — a total order, so the cut is deterministic.

    Scale shape: the pair generation self-joins the basket table on
    l_orderkey — candidates are Σ C(items-per-order, 2), bounded by
    basket size (~4 distinct brands here), never C(n, 2) over the
    catalog.  Everything downstream runs over pair counts (≪ input).
    A mega-basket would quadratically blow its task → cap basket size
    upstream (standard practice).  ``items`` must carry (l_orderkey,
    item) with ``item`` aliased ``l_partkey``.
    """
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    part_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    na = part_n.select(F.col("l_partkey").alias("pa"), F.col("n_part").alias("n_a"))
    nb = part_n.select(F.col("l_partkey").alias("pb"), F.col("n_part").alias("n_b"))
    lift = F.floor(
        F.col("n_ab") * F.lit(n_orders).cast("bigint") * 1_000_000
        / (F.col("n_a") * F.col("n_b"))
    ).cast("bigint")
    return (
        pairs.join(na, "pa")
        .join(nb, "pb")
        .select("pa", "pb", "n_ab", lift.alias("lift_x1m"))
        .orderBy(F.col("n_ab").desc(), "pa", "pb")
        .limit(top_n)
    )


def q_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level baskets (part ids are too sparse for support at
    small SF; brands give a dense, SF-stable co-occurrence matrix —
    and a broadcast dim join is the realistic catalog-rollup anyway)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", F.col("p_brand").alias("l_partkey"))
    )
    return basket_pair_lift(baskets)


def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share of each nation within its region — the ratio-to-
    report BI staple.  Both numerator and denominator are exact decimal
    sums (order-independent, partial-aggregatable); the single division
    happens once per output row on identical decimals, rounded to 9 dp.
    One shuffle for the per-nation agg; the region totals reuse those
    partials through a window over ≤ |nations| rows."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    per_nation = (
        cust.groupBy("c_nationkey")
        .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_regionkey", "n_name", "bal")
    )
    w = Window.partitionBy("n_regionkey")
    # both sums are exact decimals; cast each to double BEFORE the one
    # division so both engines divide identical bits (decimal division
    # would round at an engine-chosen scale)
    return per_nation.select(
        "n_regionkey",
        "n_name",
        F.col("bal").cast("double").alias("nation_bal"),
        F.round(
            F.col("bal").cast("double") / F.sum("bal").over(w).cast("double"), 9
        ).alias("share"),
    ).orderBy("n_regionkey", "n_name")


def weighted_median(df: DataFrame, group: str, val: str, weight, key: str) -> DataFrame:
    """Weighted median by cumulative-weight selection: first value (in
    the (value, key) total order) whose running weight reaches half the
    group total — exact integer threshold (2·cum ≥ total), no
    interpolation, engine-portable.  One shuffle on the group shared by
    both windows and the final agg."""
    wsum = Window.partitionBy(group).orderBy(val, key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy(group)
    ranked = df.select(
        group,
        F.col(val).alias("v"),
        F.sum(weight).over(wsum).alias("cum_w"),
        F.sum(weight).over(wtot).alias("tot_w"),
    ).filter(2 * F.col("cum_w") >= F.col("tot_w"))
    return (
        ranked.groupBy(group)
        .agg(F.min("v").alias("weighted_median"))
        .orderBy(group)
    )


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag."""
    li = load(spark, sf_dir, "lineitem")
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", F.col("l_quantity").cast("decimal(18,2)"), "l_orderkey"
    )


def table_diff(a: DataFrame, b: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Row-level diff of two snapshots keyed by ``key``: one row per
    key that differs, with ``change_type`` 'D' (in A only), 'I' (in B
    only) or 'U' (present in both, compared columns differ), plus the
    old/new values of the first compared column.

    `table-checksum` answers WHETHER two 100 TB snapshots differ for
    the cost of two scans; this answers WHAT changed for the cost of
    one co-partitioned full-outer equi-join on the key — both sides
    shuffle once on ``key``, the comparison is row-local, and the
    output is only the changed keys (≪ table for typical drift).
    Unchanged rows never leave the join stage.
    """
    pa = a.select(F.col(key).alias("ka"), *[F.col(c).alias(f"a_{c}") for c in cols])
    pb = b.select(F.col(key).alias("kb"), *[F.col(c).alias(f"b_{c}") for c in cols])
    j = pa.join(pb, pa["ka"] == pb["kb"], "full_outer")
    changed = None
    for c in cols:
        ne = ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
        changed = ne if changed is None else (changed | ne)
    ctype = (
        F.when(F.col("kb").isNull(), F.lit("D"))
        .when(F.col("ka").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
    )
    lead = cols[0]
    return (
        j.filter(F.col("ka").isNull() | F.col("kb").isNull() | changed)
        .select(
            F.coalesce("ka", "kb").alias(key),
            ctype.alias("change_type"),
            F.col(f"a_{lead}").alias(f"old_{lead}"),
            F.col(f"b_{lead}").alias(f"new_{lead}"),
        )
        .orderBy(key)
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture: snapshot B is orders with every 101st key deleted,
    every 97th price bumped by 1, and every 103rd re-inserted under a
    negated key — a deterministic drift model covering all three
    change types."""
    a = load(spark, sf_dir, "orders")
    b = a.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    ins = a.filter(F.col("o_orderkey") % 103 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    return table_diff(a, b.unionByName(ins), "o_orderkey", ["o_totalprice"])


QUERIES = {
    "profile-key-skew": q_profile_key_skew,
    "table-diff": q_table_diff,
    "events-percentile-bands": q_percentile_bands,
    "events-dau-cumulative": q_cumulative_dau,
    "basket-pair-lift": q_basket_pair_lift,
    "share-of-total": q_share_of_total,
    "agg-weighted-median": q_weighted_median,
    "histogram-equi-depth": q_equi_depth_histogram,
    "events-anomaly-mad": q_events_anomaly_mad,
    "history-scd2": q_history_scd2,
    "join-temporal-scd2": q_join_temporal_scd2,
    "table-checksum": q_table_checksum,
    "profile-table": q_profile_table,
    "validate-expectations": q_validate_expectations,
    "validate-referential": q_validate_referential,
    "events-state-dwell": q_events_state_dwell,
    "agg-winsorized-mean": q_agg_winsorized_mean,
    "agg-log2-histogram": q_agg_log2_histogram,
    "events-top-paths": q_events_top_paths,
    "agg-ttest-welch": q_agg_ttest_welch,
    "events-markov-accuracy": q_events_markov_accuracy,
    "events-wow-growth": q_events_wow_growth,
    "events-feature-matrix": q_events_feature_matrix,
    "events-peak-detect": q_events_peak_detect,
    "events-bounce-rate": q_events_bounce_rate,
    "events-wilson-interval": q_events_wilson_interval,
    "supplier-scorecard": q_supplier_scorecard,
    "orders-monthly-seasonality": q_orders_monthly_seasonality,
    "events-daily-type-mix": q_events_daily_type_mix,
    "sample-class-balanced": q_sample_class_balanced,
    "agg-pareto-coverage": q_agg_pareto_coverage,
    "events-attribution": q_events_attribution,
    "skyline-pareto": q_skyline_pareto,
    "rank-similarity-join": q_rank_similarity_join,
    "agg-linreg-exact": q_agg_linreg_exact,
    "agg-corr-matrix": q_agg_corr_matrix,
    "events-benford-check": q_events_benford,
    "events-activity-islands": q_events_islands,
    "events-bot-score": q_events_bot_score,
    "events-psi-drift": q_events_psi_drift,
    "orders-cohort-ltv": q_orders_cohort_ltv,
    "orders-open-backlog": q_orders_open_backlog,
    "events-kaplan-meier": q_events_kaplan_meier,
    "agg-bootstrap-ci": q_agg_bootstrap_ci,
    "agg-rfm-segmentation": q_rfm_segmentation,
    "agg-gini": q_agg_gini,
    "events-abtest-lift": q_events_abtest,
    "events-interval-coalesce": q_events_interval_coalesce,
    "events-user-entropy": q_events_user_entropy,
    "layout-zorder": q_layout_zorder,
    "events-transition-matrix": q_events_transition_matrix,
    "events-pattern-match": q_events_pattern_match,
    "events-value-histogram": q_events_value_histogram,
    "agg-mode": q_agg_mode,
    "fuzzy-join-levenshtein": q_fuzzy_join_levenshtein,
    "window-percent-cume": q_window_percent_cume,
    "embedding-norm-topk": q_embedding_norm_topk,
}

ORACLES = {
    "events-daily-type-mix": """
        WITH cells AS (
          SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT CAST(day AS VARCHAR) AS day, event_type, n,
               ROUND(CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER (PARTITION BY day) AS DOUBLE), 6) AS share
        FROM cells ORDER BY day, event_type
    """,
    "supplier-scorecard": """
        WITH g AS (
          SELECT l_suppkey, COUNT(*) AS n_lines,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                   AS revenue,
                 CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_returned,
                 SUM(CAST(l_discount AS DECIMAL(3,2))) AS d_sum
          FROM lineitem GROUP BY 1)
        SELECT l_suppkey, n_lines,
               CAST(revenue AS DOUBLE) AS revenue,
               ROUND(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
                 AS return_share,
               ROUND(CAST(d_sum AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
                 AS avg_discount
        FROM g ORDER BY revenue DESC, l_suppkey LIMIT 20
    """,
    "orders-monthly-seasonality": """
        WITH g AS (
          SELECT month(o_orderdate) AS month, COUNT(*) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1),
        t AS (SELECT month, n_orders, rev, SUM(rev) OVER () AS total FROM g)
        SELECT month, n_orders,
               ROUND(12.0 * (CAST(rev AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                 AS seasonality_index
        FROM t ORDER BY month
    """,
    "events-wilson-interval": """
        WITH g AS (
          SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS k
          FROM events GROUP BY 1),
        d AS (
          SELECT day, n, k,
                 CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                 CAST(n AS DOUBLE) AS nd
          FROM g),
        e AS (
          SELECT day, n, k, p, nd,
                 (p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd) AS center,
                 1.96 * sqrt((p * (1.0 - p)) / nd
                             + (1.96 * 1.96) / ((4.0 * nd) * nd))
                   / (1.0 + (1.96 * 1.96) / nd) AS half
          FROM d)
        SELECT CAST(day AS VARCHAR) AS day, n, k,
               ROUND(p, 6) AS rate,
               ROUND(center - half, 6) AS wilson_lo,
               ROUND(center + half, 6) AS wilson_hi
        FROM e ORDER BY day
    """,
    "events-bounce-rate": """
        WITH marked AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000
                      OR LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM events WHERE ts IS NOT NULL),
        sess AS (
          SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
          FROM marked),
        per_session AS (
          SELECT user_id, session_no, COUNT(*) AS n_events,
                 MIN(CAST(ts AS DATE)) AS day
          FROM sess GROUP BY 1, 2)
        SELECT CAST(day AS VARCHAR) AS day,
               COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
        FROM per_session GROUP BY day ORDER BY day
    """,
    "events-feature-matrix": """
        SELECT user_id,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
               datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                 AS tenure_days,
               MAX(epoch_us(ts)) AS last_seen_us
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    "events-peak-detect": """
        WITH hc AS (
          SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS x
          FROM events GROUP BY 1),
        l AS (
          SELECT hr, x,
                 LAG(x, 1) OVER (ORDER BY hr) AS p1,
                 LAG(x, 2) OVER (ORDER BY hr) AS p2,
                 LEAD(x, 1) OVER (ORDER BY hr) AS n1,
                 LEAD(x, 2) OVER (ORDER BY hr) AS n2
          FROM hc)
        SELECT CAST(hr AS VARCHAR) AS hr, x
        FROM l
        WHERE p1 IS NOT NULL AND n1 IS NOT NULL AND x > p1 AND x > n1
          AND p2 IS NOT NULL AND n2 IS NOT NULL AND x > p2 AND x > n2
        ORDER BY hr
    """,
    "events-wow-growth": """
        WITH weekly AS (
          SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1)
        SELECT week, n_events,
               LAG(n_events) OVER (ORDER BY week) AS prev,
               ROUND(CAST(n_events AS DOUBLE)
                     / CAST(LAG(n_events) OVER (ORDER BY week) AS DOUBLE) - 1.0, 6)
                 AS growth
        FROM weekly ORDER BY week
    """,
    "events-markov-accuracy": """
        WITH tr AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type,
                 event_type AS to_type, CAST(ts AS DATE) AS day
          FROM events),
        t2 AS (SELECT * FROM tr WHERE from_type IS NOT NULL),
        counts AS (
          SELECT from_type, to_type, COUNT(*) AS c
          FROM t2 WHERE day < DATE '2024-01-22' GROUP BY 1, 2),
        model AS (
          SELECT from_type, to_type AS pred FROM (
            SELECT from_type, to_type,
                   ROW_NUMBER() OVER (PARTITION BY from_type
                                      ORDER BY c DESC, to_type) AS rn
            FROM counts) WHERE rn = 1),
        test AS (SELECT * FROM t2 WHERE day >= DATE '2024-01-22')
        SELECT t.from_type, COUNT(*) AS n_test,
               CAST(SUM(CASE WHEN t.to_type = m.pred THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct,
               ROUND(CAST(SUM(CASE WHEN t.to_type = m.pred THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        FROM test t JOIN model m USING (from_type)
        GROUP BY t.from_type ORDER BY t.from_type
    """,
    "agg-ttest-welch": """
        WITH base AS (
          SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08' THEN 'a'
                      WHEN CAST(ts AS DATE) >= DATE '2024-01-22' THEN 'b'
                 END AS grp,
                 CAST(round(value * 100) AS BIGINT) AS x
          FROM events WHERE event_type = 'purchase'),
        g AS (
          SELECT grp, COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(38,0))) AS s1,
                 SUM(CAST(x*x AS DECIMAL(38,0))) AS s2
          FROM base WHERE grp IS NOT NULL GROUP BY grp),
        one AS (
          SELECT MIN(CASE WHEN grp = 'a' THEN n END) AS n_a,
                 MIN(CASE WHEN grp = 'a' THEN s1 END) AS s1_a,
                 MIN(CASE WHEN grp = 'a' THEN s2 END) AS s2_a,
                 MIN(CASE WHEN grp = 'b' THEN n END) AS n_b,
                 MIN(CASE WHEN grp = 'b' THEN s1 END) AS s1_b,
                 MIN(CASE WHEN grp = 'b' THEN s2 END) AS s2_b
          FROM g),
        d AS (
          SELECT n_a, n_b,
                 CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 (CAST(s2_a AS DOUBLE) - (CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE)) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
                 (CAST(s2_b AS DOUBLE) - (CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE)) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vb,
                 CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
          FROM one),
        e AS (
          SELECT n_a, n_b, ma, mb,
                 va / nad AS sea, vb / nbd AS seb, nad, nbd
          FROM d)
        SELECT n_a AS n_week1, n_b AS n_week4,
               ROUND(ma - mb, 6) AS mean_diff_cents,
               ROUND((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
               ROUND(((sea + seb) * (sea + seb))
                     / ((sea * sea) / (nad - 1.0) + (seb * seb) / (nbd - 1.0)), 6)
                 AS welch_df
        FROM e
    """,
    "sample-class-balanced": """
        WITH ranked AS (
          SELECT doc_id, lang AS label,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n_class
          FROM documents),
        capped AS (
          SELECT doc_id, label, rn, MIN(n_class) OVER () AS cap FROM ranked)
        SELECT doc_id, label FROM capped WHERE rn <= cap ORDER BY doc_id
    """,
    "agg-log2-histogram": """
        WITH b AS (
          SELECT length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS bucket,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders)
        SELECT bucket,
               CAST(1 AS BIGINT) << (bucket - 1) AS lo_dollars,
               COUNT(*) AS n_orders,
               CAST(SUM(p) AS DOUBLE) AS revenue
        FROM b GROUP BY bucket ORDER BY bucket
    """,
    "agg-winsorized-mean": """
        WITH base AS (
          SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                 o_orderkey
          FROM orders WHERE o_totalprice IS NOT NULL),
        ranked AS (
          SELECT o_orderpriority, p,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY p, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
          FROM base),
        bounds AS (
          SELECT o_orderpriority,
                 MAX(CASE WHEN rn = (cnt * 5 + 99) // 100 THEN p END) AS lo,
                 MAX(CASE WHEN rn = (cnt * 95 + 99) // 100 THEN p END) AS hi
          FROM ranked GROUP BY 1),
        clipped AS (
          SELECT b.o_orderpriority, b.p, o.lo, o.hi,
                 CASE WHEN b.p < o.lo THEN o.lo
                      WHEN b.p > o.hi THEN o.hi
                      ELSE b.p END AS cp
          FROM base b JOIN bounds o USING (o_orderpriority))
        SELECT o_orderpriority, COUNT(*) AS n_rows,
               CAST(MIN(lo) AS DOUBLE) AS p5, CAST(MIN(hi) AS DOUBLE) AS p95,
               ROUND(CAST(SUM(cp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                 AS winsorized_mean,
               ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                 AS raw_mean
        FROM clipped GROUP BY 1 ORDER BY 1
    """,
    "events-top-paths": """
        WITH r AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events WHERE ts IS NOT NULL),
        p AS (
          SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 5 GROUP BY user_id)
        SELECT path, COUNT(*) AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path LIMIT 10
    """,
    "events-state-dwell": """
        WITH g AS (
          SELECT event_type,
                 LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                   - epoch_us(ts) AS gap_us
          FROM events),
        f AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
        a AS (
          SELECT event_type, COUNT(*) AS n_intervals,
                 SUM(CAST(gap_us AS DECIMAL(38,0))) AS total_us
          FROM f GROUP BY 1)
        SELECT event_type, n_intervals,
               CAST(total_us AS BIGINT) AS total_us,
               ROUND((CAST(total_us AS DOUBLE) / CAST(n_intervals AS DOUBLE))
                     / 1000000.0, 6) AS mean_dwell_s
        FROM a ORDER BY event_type
    """,
    "agg-pareto-coverage": """
        WITH pc AS (
          SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1),
        r AS (
          SELECT o_custkey, rev,
                 ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rnk,
                 COUNT(*) OVER () AS n_cust
          FROM pc),
        d AS (
          SELECT ((rnk - 1) * 10) // n_cust + 1 AS decile,
                 COUNT(*) AS n_customers, SUM(rev) AS rev
          FROM r GROUP BY 1),
        c AS (
          SELECT decile, n_customers, rev,
                 SUM(rev) OVER (ORDER BY decile
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rev,
                 SUM(rev) OVER () AS total_rev
          FROM d)
        SELECT decile, n_customers,
               ROUND(CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
                 AS rev_share,
               ROUND(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
                 AS cum_rev_share
        FROM c ORDER BY decile
    """,
    "events-attribution": """
        WITH sub AS (
          SELECT user_id, event_id, ts, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, event_id, ts, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'click'
                                 THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS click_us,
                 LAST_VALUE(CASE WHEN event_type = 'click'
                                 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS click_id
          FROM sub)
        SELECT event_id AS purchase_id, user_id,
               CASE WHEN click_us IS NOT NULL
                         AND epoch_us(ts) - click_us <= 259200000000
                    THEN click_id END AS attributed_click_id,
               CASE WHEN click_us IS NOT NULL
                         AND epoch_us(ts) - click_us <= 259200000000
                    THEN (epoch_us(ts) - click_us) // 1000000 END AS gap_s
        FROM w WHERE event_type = 'purchase'
        ORDER BY purchase_id
    """,
    "validate-referential": """
        WITH rels AS (
          SELECT 'customer.c_nationkey->nation' AS relationship,
                 (SELECT COUNT(*) FROM customer) AS n_child,
                 (SELECT COUNT(*) FROM customer c LEFT JOIN
                    (SELECT DISTINCT n_nationkey AS pk FROM nation) p
                    ON c.c_nationkey = p.pk WHERE p.pk IS NULL) AS n_orphans
          UNION ALL
          SELECT 'events.user_id->customer',
                 (SELECT COUNT(*) FROM events),
                 (SELECT COUNT(*) FROM events e LEFT JOIN
                    (SELECT DISTINCT c_custkey AS pk FROM customer) p
                    ON e.user_id = p.pk WHERE p.pk IS NULL)
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l LEFT JOIN
                    (SELECT DISTINCT o_orderkey AS pk FROM orders) p
                    ON l.l_orderkey = p.pk WHERE p.pk IS NULL)
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l LEFT JOIN
                    (SELECT DISTINCT p_partkey AS pk FROM part) p
                    ON l.l_partkey = p.pk WHERE p.pk IS NULL)
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l LEFT JOIN
                    (SELECT DISTINCT s_suppkey AS pk FROM supplier) p
                    ON l.l_suppkey = p.pk WHERE p.pk IS NULL)
          UNION ALL
          SELECT 'nation.n_regionkey->region',
                 (SELECT COUNT(*) FROM nation),
                 (SELECT COUNT(*) FROM nation n LEFT JOIN
                    (SELECT DISTINCT r_regionkey AS pk FROM region) p
                    ON n.n_regionkey = p.pk WHERE p.pk IS NULL)
          UNION ALL
          SELECT 'orders.o_custkey->customer',
                 (SELECT COUNT(*) FROM orders),
                 (SELECT COUNT(*) FROM orders o LEFT JOIN
                    (SELECT DISTINCT c_custkey AS pk FROM customer) p
                    ON o.o_custkey = p.pk WHERE p.pk IS NULL)
        )
        SELECT relationship, n_child, n_orphans,
               n_orphans = 0 AS intact
        FROM rels ORDER BY relationship
    """,
    "events-dau-cumulative": """
        WITH by_day AS (
          SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        dau AS (
          SELECT day, COUNT(DISTINCT user_id) AS dau FROM by_day GROUP BY 1),
        first_seen AS (
          SELECT user_id, MIN(day) AS day FROM by_day GROUP BY 1),
        new_users AS (
          SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY 1)
        SELECT CAST(d.day AS VARCHAR) AS day, d.dau,
               COALESCE(n.new_users, 0) AS new_users,
               CAST(SUM(COALESCE(n.new_users, 0)) OVER (
                 ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_users
        FROM dau d LEFT JOIN new_users n ON n.day = d.day
        ORDER BY d.day
    """,
    "basket-pair-lift": """
        WITH items AS (
          SELECT DISTINCT l_orderkey, p_brand AS item
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
        part_n AS (SELECT item, COUNT(*) AS n_part FROM items GROUP BY 1),
        pairs AS (
          SELECT a.item AS pa, b.item AS pb, COUNT(*) AS n_ab
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.item < b.item
          GROUP BY 1, 2 HAVING COUNT(*) >= 20)
        SELECT pa, pb, n_ab,
               CAST(FLOOR(n_ab * n.n * 1000000.0 / (na.n_part * nb.n_part))
                 AS BIGINT) AS lift_x1m
        FROM pairs, n_orders n
        JOIN part_n na ON na.item = pa
        JOIN part_n nb ON nb.item = pb
        ORDER BY n_ab DESC, pa, pb LIMIT 50
    """,
    "share-of-total": """
        WITH per_nation AS (
          -- null-pin: group by the nation KEY too — the engine
          -- aggregates per nation, so two null-named nations in one
          -- region stay distinct rows (GROUP BY n_name alone would
          -- collapse them)
          SELECT n_regionkey, n_name, n_nationkey,
                 SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2, 3)
        SELECT n_regionkey, n_name,
               CAST(bal AS DOUBLE) AS nation_bal,
               ROUND(CAST(bal AS DOUBLE) / CAST(SUM(bal) OVER (
                 PARTITION BY n_regionkey) AS DOUBLE), 9) AS share
        FROM per_nation ORDER BY n_regionkey, n_name
    """,
    "agg-weighted-median": """
        WITH ranked AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag) AS tot_w
          FROM lineitem)
        SELECT l_returnflag, MIN(v) AS weighted_median
        FROM ranked WHERE 2 * cum_w >= tot_w
        GROUP BY 1 ORDER BY 1
    """,
    "events-percentile-bands": """
        WITH ev AS (
          SELECT event_type, value, event_id,
                 CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr_bucket
          FROM events),
        ranked AS (
          SELECT event_type, hr_bucket, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type, hr_bucket
                   ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type, hr_bucket) AS n
          FROM ev)
        SELECT event_type, hr_bucket, MAX(n) AS n,
               MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS INT) THEN value END) AS p50,
               MAX(CASE WHEN rn = CAST(CEIL(n * 0.95) AS INT) THEN value END) AS p95
        FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "histogram-equi-depth": """
        WITH t AS (
          SELECT c_nationkey, c_acctbal,
                 NTILE(4) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal NULLS LAST, c_custkey NULLS LAST) AS tile
          FROM customer)
        SELECT c_nationkey, tile, COUNT(*) AS n,
               MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
        FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "table-diff": """
        WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
        b AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 101 <> 0
          UNION ALL
          SELECT -o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 103 = 0)
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN b.o_orderkey IS NULL THEN 'D'
                    WHEN a.o_orderkey IS NULL THEN 'I'
                    ELSE 'U' END AS change_type,
               a.o_totalprice AS old_o_totalprice,
               b.o_totalprice AS new_o_totalprice
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
        ORDER BY o_orderkey
    """,
    "profile-key-skew": """
        WITH counts AS (
          SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        ranked AS (
          SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS rn,
                 COUNT(*) OVER () AS n_keys
          FROM counts),
        summary AS (
          SELECT MAX(n_keys) AS n_keys, CAST(SUM(n) AS BIGINT) AS total_rows,
                 MAX(n) AS max_n,
                 MAX(CASE WHEN rn = CAST(CEIL(n_keys * 0.5) AS INT) THEN n END) AS p50_n,
                 MAX(CASE WHEN rn = CAST(CEIL(n_keys * 0.9) AS INT) THEN n END) AS p90_n,
                 MAX(CASE WHEN rn = CAST(CEIL(n_keys * 0.99) AS INT) THEN n END) AS p99_n
          FROM ranked)
        SELECT *, CAST(FLOOR(max_n * 100.0 / p50_n) AS BIGINT) AS skew_x100
        FROM summary
    """,
    # DuckDB reads the ns-parquet as µs TIMESTAMP — the same truncation
    # load_events applies — so ts orders/compares identically.
    "agg-corr-matrix": """
        WITH m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_e,
                 CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
                 CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS s_t,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS ss_q,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS ss_e,
                 CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS ss_d,
                 CAST(SUM(CAST(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS ss_t,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_qe,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_qd,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_qt,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_ed,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_et,
                 CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sp_dt
          FROM lineitem)
        SELECT var_a, var_b,
               CASE WHEN n*ssa - sa*sa > 0 AND n*ssb - sb*sb > 0 THEN
                 ROUND((n*sp - sa*sb) / (sqrt(n*ssa - sa*sa) * sqrt(n*ssb - sb*sb)), 9)
               END AS corr
        FROM (
          SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b, n, sp_qe AS sp, s_q AS sa, s_e AS sb, ss_q AS ssa, ss_e AS ssb FROM m
          UNION ALL SELECT 'l_quantity', 'l_discount', n, sp_qd, s_q, s_d, ss_q, ss_d FROM m
          UNION ALL SELECT 'l_quantity', 'l_tax', n, sp_qt, s_q, s_t, ss_q, ss_t FROM m
          UNION ALL SELECT 'l_extendedprice', 'l_discount', n, sp_ed, s_e, s_d, ss_e, ss_d FROM m
          UNION ALL SELECT 'l_extendedprice', 'l_tax', n, sp_et, s_e, s_t, ss_e, ss_t FROM m
          UNION ALL SELECT 'l_discount', 'l_tax', n, sp_dt, s_d, s_t, ss_d, ss_t FROM m)
        ORDER BY var_a, var_b
    """,
    "events-abtest-lift": """
        WITH u AS (
          SELECT DISTINCT user_id FROM events),
        arms AS (
          SELECT user_id,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
                   AS arm
          FROM u),
        conv AS (
          SELECT DISTINCT user_id, 1 AS converted
          FROM events WHERE event_type = 'purchase' AND value > 90),
        pu AS (
          SELECT a.arm, COALESCE(c.converted, 0) AS converted
          FROM arms a LEFT JOIN conv c USING (user_id)),
        g AS (
          SELECT COUNT(*) FILTER (arm = 0) AS n_a,
                 SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS c_a,
                 COUNT(*) FILTER (arm = 1) AS n_b,
                 SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS c_b
          FROM pu)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
               CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
               ROUND(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
               ROUND(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
               ROUND((c_b / CAST(n_b AS DOUBLE)) / (c_a / CAST(n_a AS DOUBLE)) - 1, 6)
                 AS lift,
               ROUND((c_b / CAST(n_b AS DOUBLE) - c_a / CAST(n_a AS DOUBLE))
                     / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
        FROM g
    """,
    "agg-gini": """
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS i
          FROM orders WHERE o_totalprice IS NOT NULL),
        g AS (
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(i * x AS DECIMAL(38,2))) AS DOUBLE) AS six
          FROM r GROUP BY o_orderpriority)
        SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
               ROUND((2 * six) / (n * sx) - (n + 1) / n, 9) AS gini
        FROM g ORDER BY o_orderpriority
    """,
    "events-interval-coalesce": """
        WITH iv AS (
          SELECT user_id, epoch_us(ts) AS lo,
                 epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS hi
          FROM events WHERE ts IS NOT NULL),
        f AS (
          SELECT user_id, lo, hi,
                 CASE WHEN MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                       OR lo > MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_span
          FROM iv),
        sp AS (
          SELECT user_id, lo, hi,
                 CAST(SUM(new_span) OVER (PARTITION BY user_id ORDER BY lo, hi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS span_id
          FROM f)
        SELECT user_id, span_id, MIN(lo) AS span_lo, MAX(hi) AS span_hi,
               COUNT(*) AS n_intervals
        FROM sp GROUP BY user_id, span_id
        ORDER BY user_id, span_id
    """,
    "events-user-entropy": """
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, SUM(c) AS t FROM c GROUP BY user_id)
        SELECT c.user_id,
               ROUND(-SUM((c.c / CAST(t.t AS DOUBLE))
                          * log2(c.c / CAST(t.t AS DOUBLE))), 6) AS entropy,
               COUNT(*) AS n_types
        FROM c JOIN t USING (user_id)
        GROUP BY c.user_id ORDER BY c.user_id
    """,

    "agg-bootstrap-ci": """
        WITH fan AS (
          SELECT o_orderkey,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                 i.range AS r,
                 (('0x' || substr(md5(o_orderkey || ':' || i.range), 1, 4))::BIGINT
                  + 0.5) / 65536.0 AS u
          FROM orders, range(0, 20) i),
        w AS (SELECT r, p, CASE WHEN u < 0.3678794411714423 THEN 0 WHEN u < 0.7357588823428846 THEN 1 WHEN u < 0.9196986029286058 THEN 2 WHEN u < 0.9810118431238462 THEN 3 WHEN u < 0.9963401531726563 THEN 4 WHEN u < 0.9994058151824183 THEN 5 WHEN u < 0.9998167774290453 THEN 6 ELSE 7 END AS w FROM fan),
        means AS (
          SELECT r, CAST(SUM(w * p) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_r
          FROM w GROUP BY r),
        ranked AS (
          SELECT mean_r, ROW_NUMBER() OVER (ORDER BY mean_r, r) AS rk FROM means),
        pt AS (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS point_est
          FROM orders)
        SELECT CAST(20 AS INTEGER) AS n_replicates,
               ROUND(pt.point_est, 6) AS point_est,
               ROUND((SELECT mean_r FROM ranked WHERE rk = 2), 6) AS ci_lo,
               ROUND((SELECT mean_r FROM ranked WHERE rk = 19), 6) AS ci_hi
        FROM pt
    """,
    "events-kaplan-meier": """
        WITH signup AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS s_day
          FROM events WHERE event_type = 'signup' GROUP BY user_id),
        conv AS (
          SELECT s.user_id, s.s_day, MIN(p.p_day) AS conv_day
          FROM signup s
          LEFT JOIN (SELECT user_id, CAST(ts AS DATE) AS p_day
                     FROM events WHERE event_type = 'purchase') p
            ON p.user_id = s.user_id AND p.p_day >= s.s_day
          GROUP BY s.user_id, s.s_day),
        subj AS (
          SELECT user_id,
                 CASE WHEN conv_day IS NOT NULL
                      THEN date_diff('day', s_day, conv_day)
                      ELSE date_diff('day', s_day, DATE '2024-01-31') END AS dur,
                 conv_day IS NOT NULL AS converted
          FROM conv),
        times AS (
          SELECT dur AS t, COUNT(*) AS d FROM subj WHERE converted GROUP BY dur),
        risk AS (
          SELECT times.t, times.d, COUNT(*) AS n_risk
          FROM times JOIN subj ON subj.dur >= times.t
          GROUP BY times.t, times.d)
        SELECT CAST(t AS INTEGER) AS t_days, n_risk, d,
               CASE WHEN SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w > 0
                    THEN 0.0
                    ELSE ROUND(EXP(SUM(CASE WHEN d < n_risk
                           THEN LN(1 - d / CAST(n_risk AS DOUBLE))
                           ELSE 0 END) OVER w), 6) END AS survival
        FROM risk
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY t_days
    """,
    "orders-open-backlog": """
        WITH iv AS (
          SELECT o_orderdate AS lo,
                 o_orderdate + INTERVAL (CAST(o_custkey % 30 + 1 AS INTEGER)) DAY
                   AS hi_excl
          FROM orders
          WHERE o_orderdate >= DATE '1995-01-01'
            AND o_orderdate < DATE '1996-01-01'),
        deltas AS (
          SELECT lo AS day, 1 AS d FROM iv
          UNION ALL
          SELECT CAST(hi_excl AS DATE) AS day, -1 AS d FROM iv),
        daily AS (SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY day)
        SELECT CAST(day AS VARCHAR) AS day, delta,
               CAST(SUM(delta) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS open_orders
        FROM daily
        WHERE day < DATE '1996-01-01'
        ORDER BY day
    """,
    "orders-cohort-ltv": """
        WITH m AS (
          SELECT o_custkey,
                 year(o_orderdate) * 12 + month(o_orderdate) AS m,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders),
        f AS (SELECT o_custkey, MIN(m) AS m0 FROM m GROUP BY o_custkey)
        SELECT CAST(f.m0 AS BIGINT) AS cohort_month,
               CAST(m.m - f.m0 AS BIGINT) AS months_since,
               COUNT(DISTINCT m.o_custkey) AS n_customers,
               ROUND(CAST(SUM(m.p) AS DOUBLE), 2) AS revenue
        FROM m JOIN f USING (o_custkey)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "events-psi-drift": """
        WITH b1 AS (
          SELECT LEAST(CAST(FLOOR(value / 10.0) AS INTEGER), 9) AS bin,
                 COUNT(*) AS n
          FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-08' GROUP BY 1),
        b4 AS (
          SELECT LEAST(CAST(FLOOR(value / 10.0) AS INTEGER), 9) AS bin,
                 COUNT(*) AS n
          FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-22' GROUP BY 1),
        s1 AS (SELECT bin, n / (SELECT CAST(SUM(n) AS DOUBLE) FROM b1) AS e FROM b1),
        s4 AS (SELECT bin, n / (SELECT CAST(SUM(n) AS DOUBLE) FROM b4) AS a FROM b4),
        spine AS (SELECT CAST(i.range AS INTEGER) AS bin FROM range(0, 10) i),
        j AS (
          SELECT spine.bin,
                 GREATEST(COALESCE(s1.e, 0.0), 1e-6) AS e,
                 GREATEST(COALESCE(s4.a, 0.0), 1e-6) AS a
          FROM spine LEFT JOIN s1 USING (bin) LEFT JOIN s4 USING (bin))
        SELECT bin,
               ROUND(e, 6) AS expected_share,
               ROUND(a, 6) AS actual_share,
               ROUND((a - e) * ln(a / e), 6) AS psi_term
        FROM j ORDER BY bin
    """,
    "agg-rfm-segmentation": """
        WITH rfm AS (
          SELECT o_custkey,
                 date_diff('day', MAX(o_orderdate), DATE '1998-12-31')
                   AS recency_days,
                 COUNT(*) AS frequency,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
          FROM orders GROUP BY o_custkey),
        scored AS (
          SELECT o_custkey, recency_days, frequency, monetary,
                 CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey)
                   AS INTEGER) AS r_score,
                 CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)
                   AS INTEGER) AS f_score,
                 CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey)
                   AS INTEGER) AS m_score
          FROM rfm)
        SELECT o_custkey, CAST(recency_days AS INTEGER) AS recency_days,
               frequency, ROUND(monetary, 2) AS monetary,
               r_score, f_score, m_score,
               r_score || '-' || f_score || '-' || m_score AS segment
        FROM scored ORDER BY o_custkey
    """,
    "events-bot-score": """
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, SUM(c) AS n_events FROM c GROUP BY user_id),
        ent AS (
          SELECT c.user_id,
                 -SUM((c.c / CAST(t.n_events AS DOUBLE))
                      * log2(c.c / CAST(t.n_events AS DOUBLE))) AS entropy
          FROM c JOIN t USING (user_id) GROUP BY c.user_id),
        act AS (
          SELECT user_id,
                 COUNT(DISTINCT epoch_us(ts) // 3600000000) AS active_hours,
                 SUM(CASE WHEN hour(ts) < 6 THEN 1 ELSE 0 END) AS n_night
          FROM events GROUP BY user_id),
        j AS (
          SELECT t.user_id, CAST(t.n_events AS BIGINT) AS n_events,
                 ent.entropy,
                 t.n_events / CAST(act.active_hours AS DOUBLE) AS rate,
                 act.n_night / CAST(t.n_events AS DOUBLE) AS night_share
          FROM t JOIN ent USING (user_id) JOIN act USING (user_id))
        SELECT user_id, n_events,
               ROUND(entropy, 6) AS entropy,
               ROUND(rate, 6) AS rate,
               ROUND(night_share, 6) AS night_share,
               ROUND(0.4 * (1 - entropy / log2(5.0))
                     + 0.3 * LEAST(1.0, rate / 10)
                     + 0.3 * night_share, 6) AS score
        FROM j ORDER BY score DESC, user_id LIMIT 20
    """,
    "events-activity-islands": """
        WITH d AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        a AS (
          SELECT user_id, day,
                 date_diff('day', DATE '2024-01-01', day)
                   - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
          FROM d)
        SELECT user_id,
               CAST(MIN(day) AS VARCHAR) AS start_day,
               CAST(MAX(day) AS VARCHAR) AS end_day,
               COUNT(*) AS run_len
        FROM a GROUP BY user_id, grp
        ORDER BY user_id, start_day
    """,
    "events-benford-check": """
        WITH pos AS (SELECT value FROM events WHERE value > 0),
        d AS (
          SELECT CAST(FLOOR(value / POW(10.0, FLOOR(LOG10(value)))) AS INTEGER) AS digit
          FROM pos),
        c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        t AS (SELECT COUNT(*) AS total FROM pos)
        SELECT digit, n,
               ROUND(n / CAST(total AS DOUBLE), 6) AS share,
               ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_p,
               ROUND(ABS(n / CAST(total AS DOUBLE) - LOG10(1 + 1.0 / digit)), 6) AS abs_dev
        FROM c, t ORDER BY digit
    """,
    "agg-linreg-exact": """
        WITH g AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                   AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                   AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                   AS DOUBLE) AS syy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
                 AS intercept,
               ROUND((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr
        FROM g ORDER BY l_returnflag
    """,
    # NAIVE member-level histogram: rank every user, block user pairs
    # on the shared top-1 event, sum per-pair footrule, aggregate to
    # the per-distance histogram.  Deliberately algorithm-independent
    # from the engine's ranking-vector collapse (round-7 advice: the
    # registry oracle had been rewritten to the SAME collapse the
    # engine runs, so a bug in the shared collapse/top-1-blocking
    # logic would have passed verification at every SF).  The collapsed
    # form lives in ORACLES_BIG for big-SF sweeps, equivalence-tested
    # against this one in tests/test_dedup_staged_oracles.py.
    "rank-similarity-join": """
        WITH counts AS (
          SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT u.user_id, t.event_type
          FROM (SELECT DISTINCT user_id FROM events) u
          CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        full_ AS (
          SELECT g.user_id, g.event_type, COALESCE(c.n, 0) AS n
          FROM grid g LEFT JOIN counts c USING (user_id, event_type)),
        ranks AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY n DESC, event_type) AS r
          FROM full_),
        top1 AS (SELECT user_id, event_type AS t1 FROM ranks WHERE r = 1),
        pairs AS (
          SELECT a.user_id AS ua, b.user_id AS ub
          FROM top1 a JOIN top1 b ON a.t1 = b.t1 AND a.user_id < b.user_id),
        fr AS (
          SELECT p.ua, p.ub, CAST(SUM(ABS(ra.r - rb.r)) AS BIGINT) AS footrule
          FROM pairs p
          JOIN ranks ra ON ra.user_id = p.ua
          JOIN ranks rb ON rb.user_id = p.ub AND rb.event_type = ra.event_type
          GROUP BY 1, 2 HAVING SUM(ABS(ra.r - rb.r)) <= 4),
        npairs AS (
          SELECT footrule, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM fr GROUP BY 1),
        fl AS (
          SELECT footrule, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
          FROM (SELECT footrule, ua AS u FROM fr
                UNION ALL SELECT footrule, ub FROM fr)
          GROUP BY 1)
        SELECT n.footrule, n.n_pairs, f.n_users
        FROM npairs n JOIN fl f USING (footrule)
        ORDER BY n.footrule
    """,
    # the oracle pins skyline semantics via the naive quadratic
    # NOT-EXISTS dominance test the windowed form replaces
    "skyline-pareto": """
        SELECT p_partkey, p_retailprice, p_size
        FROM part p
        WHERE NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice
            AND q.p_size >= p.p_size
            AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        ORDER BY p_partkey
    """,
    "validate-expectations": """
        WITH agg AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_notnull,
                 COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_unique,
                 CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
                 CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_domain
          FROM orders),
        checks AS (
          SELECT 'o_orderkey_not_null' AS check_name, v_notnull AS n_violations FROM agg
          UNION ALL
          SELECT 'o_orderkey_unique', v_unique FROM agg
          UNION ALL
          SELECT 'o_totalprice_nonneg', v_range FROM agg
          UNION ALL
          SELECT 'o_orderstatus_domain', v_domain FROM agg
          UNION ALL
          SELECT 'l_orderkey_refs_orders',
                 (SELECT COUNT(*) FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        )
        SELECT check_name, n_violations, n_violations = 0 AS passed
        FROM checks ORDER BY check_name
    """,
    "profile-table": """
        WITH s AS (
          SELECT COUNT(*) AS n_rows,
                 COUNT(o_custkey) AS nn_cust, COUNT(DISTINCT o_custkey) AS nd_cust,
                 COUNT(o_orderpriority) AS nn_pri, COUNT(DISTINCT o_orderpriority) AS nd_pri,
                 COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,
                 COUNT(o_totalprice) AS nn_tp, COUNT(DISTINCT o_totalprice) AS nd_tp
          FROM orders)
        SELECT col_name, n_rows, n_rows - n_notnull AS n_null, n_distinct
        FROM (
          SELECT 'o_custkey' AS col_name, n_rows, nn_cust AS n_notnull, nd_cust AS n_distinct FROM s
          UNION ALL
          SELECT 'o_orderpriority', n_rows, nn_pri, nd_pri FROM s
          UNION ALL
          SELECT 'o_orderstatus', n_rows, nn_st, nd_st FROM s
          UNION ALL
          SELECT 'o_totalprice', n_rows, nn_tp, nd_tp FROM s)
        ORDER BY col_name
    """,
    "layout-zorder": f"""
        SELECT o_orderkey, o_custkey,
               CAST({_zorder_sql(f"(o_custkey % {1 << _Z_BITS})", f"(o_orderkey % {1 << _Z_BITS})", "//")}
                 AS INTEGER) AS zval
        FROM orders
        ORDER BY zval, o_orderkey LIMIT 200
    """,
    # the naive interval-join form of the same point-in-time lookup
    "join-temporal-scd2": """
        WITH flagged AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CAST(FLOOR(value / 100) AS BIGINT) AS tier,
                 CASE WHEN LAG(CAST(FLOOR(value / 100) AS BIGINT)) OVER w IS NULL
                        OR LAG(CAST(FLOOR(value / 100) AS BIGINT)) OVER w
                           <> CAST(FLOOR(value / 100) AS BIGINT)
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        islands AS (
          SELECT *, SUM(chg) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM flagged),
        spans AS (
          SELECT user_id, island, MIN(tier) AS tier,
                 MIN(us) AS valid_from_us
          FROM islands GROUP BY 1, 2),
        hist AS (
          SELECT user_id, tier, valid_from_us,
                 LEAD(valid_from_us) OVER (
                   PARTITION BY user_id ORDER BY island) AS valid_to_us
          FROM spans),
        probes AS (
          SELECT event_id, user_id, epoch_us(ts) AS us
          FROM events WHERE event_type = 'error')
        SELECT p.event_id, p.user_id, h.tier AS tier_at_event
        FROM probes p JOIN hist h
          ON h.user_id = p.user_id
         AND h.valid_from_us <= p.us
         AND (h.valid_to_us IS NULL OR p.us < h.valid_to_us)
        ORDER BY p.event_id
    """,
    "history-scd2": """
        WITH flagged AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CAST(FLOOR(value / 100) AS BIGINT) AS tier,
                 CASE WHEN LAG(CAST(FLOOR(value / 100) AS BIGINT)) OVER w IS NULL
                        OR LAG(CAST(FLOOR(value / 100) AS BIGINT)) OVER w
                           <> CAST(FLOOR(value / 100) AS BIGINT)
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        islands AS (
          SELECT *, SUM(chg) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM flagged),
        spans AS (
          SELECT user_id, island, MIN(tier) AS tier,
                 MIN(us) AS valid_from_us, COUNT(*) AS n_events
          FROM islands GROUP BY 1, 2)
        SELECT user_id, tier, valid_from_us,
               LEAD(valid_from_us) OVER (
                 PARTITION BY user_id ORDER BY island) AS valid_to_us,
               n_events,
               (LEAD(valid_from_us) OVER (
                 PARTITION BY user_id ORDER BY island) IS NULL) AS is_current
        FROM spans ORDER BY user_id, valid_from_us
    """,
    "table-checksum": """
        WITH canon AS (
          SELECT l_returnflag,
                 concat_ws('|', CAST(l_orderkey AS VARCHAR),
                   CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
                   CAST(l_linenumber AS VARCHAR),
                   CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
                   l_returnflag, l_linestatus) AS s
          FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(CAST(SUM(('0x' || substr(md5(s), 1, 15))::BIGINT)
                 AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        FROM canon GROUP BY 1 ORDER BY 1
    """,
    "events-anomaly-mad": """
        WITH med AS (
          SELECT user_id, median(value) AS med FROM events GROUP BY 1),
        dev AS (
          SELECT e.user_id, e.event_id, e.value,
                 abs(e.value - m.med) AS dev
          FROM events e JOIN med m USING (user_id)),
        mad AS (
          SELECT user_id, median(dev) AS mad FROM dev GROUP BY 1)
        SELECT d.user_id, d.event_id, d.value
        FROM dev d JOIN mad m USING (user_id)
        WHERE d.dev > 3 * m.mad
        ORDER BY d.user_id, d.event_id
    """,
    "events-pattern-match": """
        WITH s AS (
          SELECT user_id, ts, event_id, event_type,
                 LEAD(event_type, 1) OVER w AS t1,
                 LEAD(event_type, 2) OVER w AS t2,
                 LEAD(ts, 2) OVER w AS ts2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, event_id AS start_id,
               (epoch_us(ts2) - epoch_us(ts)) / 1000000.0 AS span_s
        FROM s
        WHERE event_type = 'click' AND t1 = 'purchase' AND t2 = 'error'
          AND epoch_us(ts2) - epoch_us(ts) <= CAST(86400 AS BIGINT) * 1000000
        ORDER BY user_id, start_id
    """,
    "events-transition-matrix": """
        WITH seq AS (
          SELECT event_type AS to_type,
                 LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS from_type
          FROM events WHERE ts IS NOT NULL)
        SELECT from_type, to_type, COUNT(*) AS n_trans
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "events-value-histogram": """
        SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bucket,
               COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "agg-mode": """
        WITH cnt AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_customers
          FROM customer GROUP BY 1, 2),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY c_nationkey
            ORDER BY n_customers DESC, c_mktsegment NULLS LAST) AS rn
          FROM cnt)
        SELECT c_nationkey, c_mktsegment AS mode_segment, n_customers
        FROM ranked WHERE rn = 1 ORDER BY c_nationkey
    """,
    "fuzzy-join-levenshtein": """
        WITH pairs AS (
          SELECT a.p_partkey AS pa, b.p_partkey AS pb,
                 CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
          WHERE (a.p_partkey * 31 + b.p_partkey) % 16 = 0
            AND abs(length(a.p_name) - length(b.p_name)) <= 10
            AND levenshtein(a.p_name, b.p_name) <= 10)
        SELECT dist, COUNT(*) AS n_pairs,
               COUNT(DISTINCT pa) AS n_left_parts
        FROM pairs GROUP BY dist ORDER BY dist
    """,
    "window-percent-cume": """
        SELECT c_custkey, c_nationkey,
               ROUND(PERCENT_RANK() OVER (
                 PARTITION BY c_nationkey ORDER BY c_acctbal NULLS LAST), 9)
                 AS pct_rank,
               ROUND(CUME_DIST() OVER (
                 PARTITION BY c_nationkey ORDER BY c_acctbal NULLS LAST), 9)
                 AS cume
        FROM customer ORDER BY c_custkey
    """,
    "embedding-norm-topk": f"""
        SELECT vec_id,
               CAST(list_sum(list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * {_NORM_SCALE}) AS BIGINT)
                      * CAST(ROUND(CAST(x AS DOUBLE) * {_NORM_SCALE}) AS BIGINT)))
                 AS BIGINT) AS norm2_scaled
        FROM embeddings
        ORDER BY norm2_scaled DESC, vec_id LIMIT 20
    """,
}


DID_CUT = "2024-01-21"


def did_uplift(events: DataFrame) -> DataFrame:
    """Difference-in-differences uplift readout: users hash-split into
    arms (md5 parity, the same deterministic assignment as
    ``events-abtest-lift``), outcomes compared PRE vs POST a launch
    date — ``DiD = (b_post − b_pre) − (a_post − a_pre)`` removes both
    the between-arm baseline gap and the common time trend, the
    standard causal readout when treatment switches on at a date.

    Scale shape: one conditional aggregation over the purchase stream
    collapses everything to a single 4-cell row (map-side combinable);
    sums are exact decimals, counts exact longs, and the cell means /
    DiD are one fixed IEEE expression on that row."""
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 2
    )
    cut = F.lit(DID_CUT).cast("date")
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            arm.alias("arm"),
            (F.to_date("ts") >= cut).alias("post"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
    )
    cell = lambda a, post: (  # noqa: E731
        F.sum(F.when((F.col("arm") == a) & (F.col("post") == post), F.col("v"))),
        F.count(F.when((F.col("arm") == a) & (F.col("post") == post), 1)),
    )
    (sa0, na0), (sa1, na1) = cell(0, False), cell(0, True)
    (sb0, nb0), (sb1, nb1) = cell(1, False), cell(1, True)
    g = p.agg(
        sa0.alias("s_a_pre"), na0.alias("n_a_pre"),
        sa1.alias("s_a_post"), na1.alias("n_a_post"),
        sb0.alias("s_b_pre"), nb0.alias("n_b_pre"),
        sb1.alias("s_b_post"), nb1.alias("n_b_post"),
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    m_a_pre, m_a_post = mean("s_a_pre", "n_a_pre"), mean("s_a_post", "n_a_post")
    m_b_pre, m_b_post = mean("s_b_pre", "n_b_pre"), mean("s_b_post", "n_b_post")
    return g.select(
        "n_a_pre", "n_a_post", "n_b_pre", "n_b_post",
        F.round(m_a_pre, 6).alias("mean_a_pre"),
        F.round(m_a_post, 6).alias("mean_a_post"),
        F.round(m_b_pre, 6).alias("mean_b_pre"),
        F.round(m_b_post, 6).alias("mean_b_post"),
        F.round((m_b_post - m_b_pre) - (m_a_post - m_a_pre), 6).alias("did"),
    )


def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    return did_uplift(load_events(spark, sf_dir))


QUERIES["events-did-uplift"] = q_events_did

ORACLES["events-did-uplift"] = f"""
    WITH arms AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS arm,
             CAST(ts AS DATE) >= DATE '{DID_CUT}' AS post,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events WHERE event_type = 'purchase'),
    g AS (
      SELECT
        SUM(CASE WHEN arm = 0 AND NOT post THEN v END) AS s_a_pre,
        COUNT(CASE WHEN arm = 0 AND NOT post THEN 1 END) AS n_a_pre,
        SUM(CASE WHEN arm = 0 AND post THEN v END) AS s_a_post,
        COUNT(CASE WHEN arm = 0 AND post THEN 1 END) AS n_a_post,
        SUM(CASE WHEN arm = 1 AND NOT post THEN v END) AS s_b_pre,
        COUNT(CASE WHEN arm = 1 AND NOT post THEN 1 END) AS n_b_pre,
        SUM(CASE WHEN arm = 1 AND post THEN v END) AS s_b_post,
        COUNT(CASE WHEN arm = 1 AND post THEN 1 END) AS n_b_post
      FROM arms)
    SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
           ROUND(CAST(s_a_pre AS DOUBLE) / n_a_pre, 6) AS mean_a_pre,
           ROUND(CAST(s_a_post AS DOUBLE) / n_a_post, 6) AS mean_a_post,
           ROUND(CAST(s_b_pre AS DOUBLE) / n_b_pre, 6) AS mean_b_pre,
           ROUND(CAST(s_b_post AS DOUBLE) / n_b_post, 6) AS mean_b_post,
           ROUND((CAST(s_b_post AS DOUBLE) / n_b_post - CAST(s_b_pre AS DOUBLE) / n_b_pre)
                 - (CAST(s_a_post AS DOUBLE) / n_a_post - CAST(s_a_pre AS DOUBLE) / n_a_pre),
                 6) AS did
    FROM g
"""


def quarterly_churn(orders: DataFrame) -> DataFrame:
    """Quarterly customer churn: of the customers who ordered in
    quarter q, the share placing NO order in q+1 — the core retention
    KPI (the cohort-matrix companion is ``events-retention`` /
    ``orders-cohort-ltv``).  The last quarter has no successor and is
    excluded.

    Scale shape: one distinct-collapse to (customer, quarter) — the
    only shuffle that sees data volume — then a self-equi-join on the
    shifted quarter key and a \\|quarters\\|-row aggregate.  All counts
    exact longs, one division per row."""
    act = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1).alias("qi"),
        )
        .distinct()
    )
    nxt = act.select("o_custkey", (F.col("qi") - 1).alias("qi"), F.lit(1).alias("ret"))
    j = act.join(nxt, ["o_custkey", "qi"], "left")
    per_q = j.groupBy("qi").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count(F.when(F.col("ret").isNull(), 1)).alias("n_churned"),
    )
    mx = Window.partitionBy()
    return (
        per_q.withColumn("mxq", F.max("qi").over(mx))
        .filter(F.col("qi") < F.col("mxq"))
        .select(
            F.concat(
                (F.col("qi") / 4).cast("int").cast("string"),
                F.lit("-Q"),
                (F.col("qi") % 4 + 1).cast("string"),
            ).alias("quarter"),
            "n_active",
            "n_churned",
            F.round(F.col("n_churned").cast("double") / F.col("n_active"), 6).alias(
                "churn_rate"
            ),
        )
        .orderBy("quarter")
    )


def q_orders_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quarterly_churn(load(spark, sf_dir, "orders"))


QUERIES["orders-churn-rate"] = q_orders_churn

ORACLES["orders-churn-rate"] = """
    WITH act AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS qi
      FROM orders),
    j AS (
      SELECT a.qi, a.o_custkey,
             CASE WHEN n.o_custkey IS NULL THEN 1 ELSE 0 END AS churned
      FROM act a
      LEFT JOIN act n ON n.o_custkey = a.o_custkey AND n.qi = a.qi + 1),
    per_q AS (
      SELECT qi, COUNT(*) AS n_active,
             CAST(SUM(churned) AS BIGINT) AS n_churned
      FROM j GROUP BY 1),
    mx AS (SELECT MAX(qi) AS mxq FROM per_q)
    SELECT CAST(qi // 4 AS VARCHAR) || '-Q' || CAST(qi % 4 + 1 AS VARCHAR) AS quarter,
           n_active, n_churned,
           ROUND(CAST(n_churned AS DOUBLE) / n_active, 6) AS churn_rate
    FROM per_q, mx WHERE qi < mxq
    ORDER BY quarter
"""


K_ANON_K = 5


def k_anonymity(events: DataFrame, k: int = K_ANON_K) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    ``(event_type, hour-of-day, value decile)`` — the re-identification
    risk readout a dataset needs BEFORE release: every row in an
    equivalence class smaller than ``k`` is linkable.  Pairs with
    ``text-pii-redact`` (direct identifiers) to cover the privacy gate.

    Determinism: the decile is ``ntile(10)`` over the TOTAL order
    (value, event_id) — identical assignment in both engines; classes
    and sizes are integer groupBys; the risk share is one division.
    Scale shape: one window for the decile (range-partitionable sort at
    100 TB), one partial-aggregated class count, a \\|sizes\\|-row
    rollup."""
    w = Window.orderBy(F.col("value").cast("decimal(10,2)"), "event_id")
    q = events.select(
        "event_type",
        ((F.unix_micros("ts") / 3_600_000_000).cast("bigint") % 24).alias("hod"),
        F.ntile(10).over(w).alias("decile"),
    )
    classes = q.groupBy("event_type", "hod", "decile").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return classes.agg(
        F.sum("sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("sz").alias("k_min"),
        F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0)).alias("rows_at_risk"),
    ).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "n_classes",
        "k_min",
        F.col("rows_at_risk").cast("bigint").alias("rows_at_risk"),
        F.round(
            F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6
        ).alias("risk_share"),
    )


def q_validate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_anonymity(load_events(spark, sf_dir))


QUERIES["validate-k-anonymity"] = q_validate_k_anonymity

ORACLES["validate-k-anonymity"] = f"""
    WITH q AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             NTILE(10) OVER (ORDER BY CAST(value AS DECIMAL(10,2)), event_id) AS decile
      FROM events),
    classes AS (
      SELECT event_type, hod, decile, COUNT(*) AS sz
      FROM q GROUP BY 1, 2, 3)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           COUNT(*) AS n_classes,
           MIN(sz) AS k_min,
           CAST(SUM(CASE WHEN sz < {K_ANON_K} THEN sz ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN sz < {K_ANON_K} THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS risk_share
    FROM classes
"""


L_DIV_L = 3


def q_validate_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a class can
    be large yet still leak if every member shares the SENSITIVE value,
    so this measures distinct sensitive values (user_id) per
    quasi-identifier class and the share of rows in classes with
    ``l < 3``.  Same determinism recipe as ``validate-k-anonymity``
    (total-order ntile, integer counts); the distinct-count is exact
    (the class space is \\|types\\|×24×10 — tiny — while the rows
    partial-aggregate map-side)."""
    events = load_events(spark, sf_dir)
    w = Window.orderBy(F.col("value").cast("decimal(10,2)"), "event_id")
    q = events.select(
        "event_type",
        ((F.unix_micros("ts") / 3_600_000_000).cast("bigint") % 24).alias("hod"),
        F.ntile(10).over(w).alias("decile"),
        "user_id",
    )
    classes = q.groupBy("event_type", "hod", "decile").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("user_id").alias("l"),
    )
    return classes.agg(
        F.sum("sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l").alias("l_min"),
        F.sum(F.when(F.col("l") < L_DIV_L, F.col("sz")).otherwise(0)).alias(
            "rows_at_risk"
        ),
    ).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "n_classes",
        "l_min",
        F.col("rows_at_risk").cast("bigint").alias("rows_at_risk"),
        F.round(
            F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6
        ).alias("risk_share"),
    )


QUERIES["validate-l-diversity"] = q_validate_l_diversity

ORACLES["validate-l-diversity"] = f"""
    WITH q AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             NTILE(10) OVER (ORDER BY CAST(value AS DECIMAL(10,2)), event_id) AS decile,
             user_id
      FROM events),
    classes AS (
      SELECT event_type, hod, decile, COUNT(*) AS sz,
             COUNT(DISTINCT user_id) AS l
      FROM q GROUP BY 1, 2, 3)
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           COUNT(*) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS l_min,
           CAST(SUM(CASE WHEN l < {L_DIV_L} THEN sz ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN l < {L_DIV_L} THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS risk_share
    FROM classes
"""


DP_EPSILON = 1.0
DP_SEED = "dp1|"


def q_events_dp_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism plumbing for differentially-private count
    release: per-type counts plus Laplace(Δ/ε) noise, with the noise
    drawn from a SEEDED md5-uniform through the inverse Laplace CDF —
    the same seeded-inverse-CDF device as ``agg-bootstrap-ci``'s
    Poisson draws, making the release reproducible and
    oracle-checkable.  (A production DP release swaps the seeded
    uniform for a secure RNG — one line — and then must NOT be
    hash-comparable, by definition; this key tests the mechanism's
    plumbing, sensitivity scaling, and post-processing, not its
    entropy.)

    Scale shape: one partial-aggregated groupBy to \\|types\\| rows;
    noise arithmetic is per-row."""
    events = load_events(spark, sf_dir)
    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # u ∈ (−1/2, 1/2) OPEN at both ends: the +0.5 half-step keeps u off
    # the −1/2 boundary (hash '0000' would give u = −0.5 exactly and
    # ln(0) — NULL in Spark, −inf/raise in DuckDB: divergent).
    u = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(DP_SEED), "event_type")), 1, 4), 16, 10
            ).cast("double")
            + 0.5
        )
        / 65536.0
        - 0.5
    )
    # inverse Laplace CDF, scale b = 1/ε: −b·sign(u)·ln(1−2|u|)
    b = 1.0 / DP_EPSILON
    noise = -F.lit(b) * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return counts.select(
        "event_type",
        "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n") + noise, 6).alias("released"),
    ).orderBy("event_type")


QUERIES["events-dp-laplace-counts"] = q_events_dp_laplace

ORACLES["events-dp-laplace-counts"] = f"""
    WITH counts AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
    u AS (
      SELECT event_type, n,
             (('0x' || substr(md5('{DP_SEED}' || event_type), 1, 4))::BIGINT + 0.5)
               / 65536.0 - 0.5 AS u
      FROM counts)
    SELECT event_type, n,
           ROUND(-{1.0 / DP_EPSILON} * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS noise,
           ROUND(n + (-{1.0 / DP_EPSILON} * sign(u) * ln(1.0 - 2.0 * abs(u))), 6)
             AS released
    FROM u ORDER BY event_type
"""


def abc_xyz(lineitem: DataFrame) -> DataFrame:
    """ABC/XYZ inventory segmentation — the classic two-axis part
    classification: ABC by cumulative revenue share (A ≤ 80 %,
    B ≤ 95 %, else C — the Pareto axis) × XYZ by demand variability
    (monthly-quantity CV: X < 0.5, Y < 1.0, else Z), emitted as the
    9-cell matrix with part counts and revenue share per cell.

    Determinism: revenue is an exact decimal sum, the cumulative share
    is an exact-decimal ordered running sum over (revenue DESC,
    partkey), CV comes from exact decimal moments — thresholds compare
    identical doubles.  Scale shape: two partial-aggregated groupBys on
    partkey (+month), one revenue-ordered window (range-partitionable),
    a 9-row rollup."""
    li = lineitem.select(
        "l_partkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("rev"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mon"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("rev").alias("rev"))
    wtot = Window.partitionBy()
    wcum = Window.orderBy(F.col("rev").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    share = (
        F.sum("rev").over(wcum).cast("double") / F.sum("rev").over(wtot).cast("double")
    )
    abc = per_part.select(
        "l_partkey",
        "rev",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias("abc"),
    )
    monthly = li.groupBy("l_partkey", "mon").agg(F.sum("qty").alias("mq"))
    mom = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mq").alias("s"),
        F.sum(F.col("mq") * F.col("mq")).alias("s2"),
    )
    cv = (
        F.sqrt((F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast("double"))
        / F.col("s").cast("double")
    )
    xyz = mom.select(
        "l_partkey",
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias("xyz"),
    )
    cells = abc.join(xyz, "l_partkey")
    tot = cells.agg(F.sum("rev").alias("trev"))
    return (
        cells.groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("rev").alias("rev"))
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "xyz",
            "n_parts",
            F.round(F.col("rev").cast("double") / F.col("trev").cast("double"), 6)
            .alias("rev_share"),
        )
        .orderBy("abc", "xyz")
    )


def q_lineitem_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    return abc_xyz(load(spark, sf_dir, "lineitem"))


QUERIES["lineitem-abc-xyz"] = q_lineitem_abc_xyz

ORACLES["lineitem-abc-xyz"] = """
    WITH li AS (
      SELECT l_partkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS rev,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty,
             year(l_shipdate) * 12 + month(l_shipdate) AS mon
      FROM lineitem),
    per_part AS (SELECT l_partkey, SUM(rev) AS rev FROM li GROUP BY 1),
    abc AS (
      SELECT l_partkey, rev,
             CASE WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / CAST(SUM(rev) OVER () AS DOUBLE) <= 0.80 THEN 'A'
                  WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / CAST(SUM(rev) OVER () AS DOUBLE) <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM per_part),
    monthly AS (SELECT l_partkey, mon, SUM(qty) AS mq FROM li GROUP BY 1, 2),
    mom AS (
      SELECT l_partkey, COUNT(*) AS n, SUM(mq) AS s, SUM(mq*mq) AS s2
      FROM monthly GROUP BY 1),
    xyz AS (
      SELECT l_partkey,
             CASE WHEN sqrt(CAST(n*s2 - s*s AS DOUBLE)) / CAST(s AS DOUBLE) < 0.5
                    THEN 'X'
                  WHEN sqrt(CAST(n*s2 - s*s AS DOUBLE)) / CAST(s AS DOUBLE) < 1.0
                    THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM mom),
    cells AS (
      SELECT a.l_partkey, a.rev, a.abc, x.xyz
      FROM abc a JOIN xyz x USING (l_partkey)),
    tot AS (SELECT SUM(rev) AS trev FROM cells)
    SELECT abc, xyz, COUNT(*) AS n_parts,
           ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS rev_share
    FROM cells, tot
    GROUP BY abc, xyz, trev
    ORDER BY abc, xyz
"""


def stickiness_dau_mau(events: DataFrame) -> DataFrame:
    """Monthly engagement stickiness: avg-DAU / MAU per calendar month
    (the product-health KPI; 1.0 = every monthly user active every day).

    The corpus collapses to distinct ``(user, day)`` pairs FIRST, so
    both the DAU sum (= pair count per month) and the MAU distinct run
    over the tiny pair set, never raw events.  Month is the integer
    ``year·12+month`` index (engine/locale-neutral); avg-DAU and
    stickiness are single double divisions over exact longs, so the
    value hash is reproducible across engines and partitionings.

    Scale shape: one distinct-collapse shuffle on (user, day) + one
    month groupBy over |users|·|days| pairs — both map-side combinable.
    At 100 TB the pair set is bounded by actives×days, ≪ event count.
    """
    pairs = events.select(
        (F.year("ts") * 12 + F.month("ts")).alias("mon"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()
    per_mon = pairs.groupBy("mon").agg(
        F.count(F.lit(1)).alias("user_days"),
        F.countDistinct("day").alias("n_days"),
        F.countDistinct("user_id").alias("mau"),
    )
    return per_mon.select(
        "mon",
        "n_days",
        "mau",
        F.round(F.col("user_days").cast("double") / F.col("n_days"), 6).alias("avg_dau"),
        F.round(
            F.col("user_days").cast("double") / (F.col("n_days") * F.col("mau")), 6
        ).alias("stickiness"),
    ).orderBy("mon")


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stickiness_dau_mau(load_events(spark, sf_dir))


QUERIES["events-stickiness"] = q_events_stickiness

ORACLES["events-stickiness"] = """
    WITH pairs AS (
      SELECT DISTINCT year(ts) * 12 + month(ts) AS mon,
             CAST(ts AS DATE) AS day, user_id
      FROM events),
    per_mon AS (
      SELECT mon, COUNT(*) AS user_days,
             COUNT(DISTINCT day) AS n_days,
             COUNT(DISTINCT user_id) AS mau
      FROM pairs GROUP BY 1)
    SELECT mon, n_days, mau,
           ROUND(CAST(user_days AS DOUBLE) / n_days, 6) AS avg_dau,
           ROUND(CAST(user_days AS DOUBLE) / (n_days * mau), 6) AS stickiness
    FROM per_mon ORDER BY mon
"""


def ship_latency(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order→ship latency profile per order month: line count, mean
    days from order placement to line shipment, and the max straggler.

    The mean is ``SUM(int days)/COUNT`` — one double division over an
    exact BIGINT sum, so it is order-independent where a double AVG
    over floats would not be.  ``datediff`` on DATE-truncated
    timestamps is pure integer arithmetic in both engines.

    Scale shape: fact⋈fact equi-join on l_orderkey/o_orderkey — both
    sides shuffle once on the key they are naturally clustered by (a
    bucketed layout makes it exchange-free); the month groupBy is
    map-side combinable partial aggregation over integers.
    """
    o = orders.select("o_orderkey", "o_orderdate")
    li = lineitem.select("l_orderkey", "l_shipdate")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mon"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("delay"),
    )
    return (
        joined.groupBy("mon")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("delay").alias("sdelay"),
            F.max("delay").alias("max_delay"),
        )
        .select(
            "mon",
            "n_lines",
            F.round(F.col("sdelay").cast("double") / F.col("n_lines"), 6).alias(
                "avg_delay_days"
            ),
            "max_delay",
        )
        .orderBy("mon")
    )


def q_orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ship_latency(load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem"))


QUERIES["orders-ship-latency"] = q_orders_ship_latency

ORACLES["orders-ship-latency"] = """
    WITH j AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mon,
             datediff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) AS delay
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT mon, COUNT(*) AS n_lines,
           ROUND(CAST(SUM(delay) AS DOUBLE) / COUNT(*), 6) AS avg_delay_days,
           MAX(delay) AS max_delay
    FROM j GROUP BY mon ORDER BY mon
"""


def theil_index(orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Per-region Theil T index of nation-level revenue concentration
    (`T = Σ s_i · ln(n · s_i)`, share form) — the decomposable
    inequality measure beside `agg-gini`: 0 = revenue spread evenly
    across the region's nations, ln(n) = all of it in one nation.

    Revenue accumulates as exact DECIMAL per nation, so every share
    ``s_i = R_i / T`` is one double division over exact sums and the
    per-nation ln terms are bit-identical across engines; the final
    Σ runs over ≤ |nations-per-region| (5) doubles.  Scale shape: the
    fact table collapses in one customer-key join + one nation groupBy
    (both map-side combinable); dimensions broadcast.
    """
    rev = (
        orders.select("o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("p").alias("rev"))
    )
    dim = nation.select("n_nationkey", "n_regionkey").join(
        F.broadcast(region.select("r_regionkey", "r_name")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    per_nation = rev.join(
        F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("r_name", "rev")
    per_region = per_nation.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"), F.sum("rev").alias("total")
    )
    s = F.col("rev").cast("double") / F.col("total").cast("double")
    terms = per_nation.join(per_region, "r_name").select(
        "r_name", "n_nations", "total", (s * F.log(s * F.col("n_nations"))).alias("term")
    )
    return (
        terms.groupBy("r_name", "n_nations")
        .agg(F.round(F.sum("term"), 6).alias("theil"))
        .orderBy("r_name")
    )


def q_agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_index(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


QUERIES["agg-theil-index"] = q_agg_theil_index

ORACLES["agg-theil-index"] = """
    WITH rev AS (
      SELECT c_nationkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    per_nation AS (
      SELECT r_name, rev
      FROM rev
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey),
    per_region AS (
      SELECT r_name, COUNT(*) AS n_nations, SUM(rev) AS total
      FROM per_nation GROUP BY 1)
    SELECT p.r_name, r.n_nations,
           ROUND(SUM((CAST(p.rev AS DOUBLE) / CAST(r.total AS DOUBLE))
                     * ln((CAST(p.rev AS DOUBLE) / CAST(r.total AS DOUBLE))
                          * r.n_nations)), 6) AS theil
    FROM per_nation p JOIN per_region r USING (r_name)
    GROUP BY p.r_name, r.n_nations
    ORDER BY p.r_name
"""


def hour_weekday_heatmap(events: DataFrame) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap — the ops-dashboard
    feed behind every "when are our users awake" question.  Weekday is
    ``datediff(anchor) % 7`` integer arithmetic (0 = Monday for the
    2024-01-01 anchor; engine/locale/timezone-neutral where
    ``dayofweek()`` is not), share-of-week-total one double division
    over exact longs.

    Scale shape: the corpus collapses in ONE map-side-combinable
    groupBy to ≤ 168 cells; the total is a window sum over those cells
    (no scalar-broadcast join).
    """
    cells = events.select(
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        ).alias("weekday"),
        F.hour("ts").alias("hour"),
    ).groupBy("weekday", "hour").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    # n/total terminates in ≤7 decimal digits when the corpus count is a
    # power of ten (sf10: exactly 10M events), making n ≡ 5 (mod 10)
    # cells EXACT decimal midpoints where round-on-double is
    # engine-dependent — round with integer half-up instead (the
    # lateness-profile / quantize_embeddings convention).
    return (
        cells.withColumn("total", F.sum("n").over(total))
        .select(
            "weekday",
            "hour",
            "n",
            (
                F.expr("(n * 2000000 + total) div (2 * total)").cast("double")
                / F.lit(1000000.0)
            ).alias("share"),
        )
        .orderBy("weekday", "hour")
    )


def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_weekday_heatmap(load_events(spark, sf_dir))


QUERIES["events-heatmap-hour-weekday"] = q_events_heatmap

ORACLES["events-heatmap-hour-weekday"] = """
    WITH cells AS (
      SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS weekday,
             hour(ts) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    c AS (SELECT weekday, hour, n, CAST(SUM(n) OVER () AS BIGINT) AS total
          FROM cells)
    -- integer half-up at 6 decimals (exact-midpoint round hazard when
    -- the corpus count is a power of ten; see the engine comment)
    SELECT weekday, hour, n,
           CAST((n * 2000000 + total) // (2 * total) AS DOUBLE)
             / 1000000.0 AS share
    FROM c ORDER BY weekday, hour
"""


def reorder_interval_histogram(orders: DataFrame) -> DataFrame:
    """Inter-purchase-interval distribution: days between consecutive
    orders per customer, bucketed into weeks — the replenishment-cycle
    readout behind subscription/CRM timing (the `orders` companion to
    `events-interarrival-burstiness`).  Bucket = ``gap // 7`` integer
    arithmetic; share = one double division over exact longs.

    Scale shape: ONE lag window on the customer key (the same single
    exchange `orders-churn-rate`-style keys reuse), then a map-side
    combinable groupBy onto the ≤ |max-gap/7| bucket rows.  Ties on
    the same day are ordered by (date, orderkey) — a total order, so
    gaps are deterministic under any partitioning.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.floor(
                F.datediff(F.to_date("o_orderdate"), F.to_date("prev")) / 7
            ).cast("int").alias("week_bucket")
        )
    )
    buckets = gaps.groupBy("week_bucket").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return buckets.select(
        "week_bucket",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(total), 6).alias("share"),
    ).orderBy("week_bucket")


def q_orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reorder_interval_histogram(load(spark, sf_dir, "orders"))


QUERIES["orders-reorder-interval"] = q_orders_reorder_interval

ORACLES["orders-reorder-interval"] = """
    WITH gaps AS (
      SELECT CAST(FLOOR(datediff('day',
               CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS DATE),
               CAST(o_orderdate AS DATE)) / 7) AS INTEGER) AS week_bucket
      FROM orders),
    buckets AS (
      SELECT week_bucket, COUNT(*) AS n FROM gaps
      WHERE week_bucket IS NOT NULL GROUP BY 1)
    SELECT week_bucket, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
    FROM buckets ORDER BY week_bucket
"""


def convert_latency_histogram(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: hours from each user's FIRST view
    to their first purchase at-or-after it, bucketed into 6-hour bins
    with user counts and shares — the latency readout behind
    `events-funnel`'s step counts (funnel says HOW MANY converted;
    this says HOW LONG they took).

    All time math is exact integer microseconds (min-aggs, one
    subtraction, one `div`); share is a single double division over
    exact longs.  Scale shape: two filtered min-agg collapses
    co-partitioned on user_id, one join on the same key, then a
    ≤|max-latency/6h|-row bucket rollup — events stream in once,
    everything after runs on per-user rows.
    """
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    first_conv = (
        p.join(v, "user_id")
        .filter(F.col("p_us") >= F.col("v_us"))
        .groupBy("user_id", "v_us")
        .agg(F.min("p_us").alias("p_us"))
    )
    buckets = first_conv.select(
        F.expr("(p_us - v_us) div 21600000000").cast("int").alias("bucket_6h")
    ).groupBy("bucket_6h").agg(F.count(F.lit(1)).alias("n_users"))
    total = Window.partitionBy()
    return buckets.select(
        "bucket_6h",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.sum("n_users").over(total), 6).alias(
            "share"
        ),
    ).orderBy("bucket_6h")


def q_events_convert_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return convert_latency_histogram(load_events(spark, sf_dir))


QUERIES["events-convert-latency"] = q_events_convert_latency

ORACLES["events-convert-latency"] = """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY 1),
    conv AS (
      SELECT e.user_id, v.v_us, MIN(epoch_us(e.ts)) AS p_us
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_us
      GROUP BY 1, 2),
    buckets AS (
      SELECT CAST((p_us - v_us) // 21600000000 AS INTEGER) AS bucket_6h,
             COUNT(*) AS n_users
      FROM conv GROUP BY 1)
    SELECT bucket_6h, n_users,
           ROUND(CAST(n_users AS DOUBLE) / SUM(n_users) OVER (), 6) AS share
    FROM buckets ORDER BY bucket_6h
"""


SLO_TARGET_X1M = 200_000  # error-budget: 20% error share, as ppm


def slo_burn_from_hours(hours: DataFrame) -> DataFrame:
    """Burn-rate evaluation over an hourly (hr, n_total, n_err)
    series — shared by the batch and streaming SLO keys.  The series
    is GAP-FILLED first (sequence(min,max) left-join, counts
    coalesced to 0) so the 6-row trailing frame always spans exactly
    six wall-clock hours; without the grid, quiet gaps silently
    stretch the slow window and defeat the flap suppression it
    exists to provide.  Zero-traffic hours carry burn 0 by
    definition (no requests → no budget spent) via explicit CASE
    guards, keeping both engines off the 0/0 path."""
    bounds = hours.groupBy().agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid = bounds.select(F.explode(F.sequence("mn", "mx")).alias("hr"))
    filled = grid.join(hours, "hr", "left").select(
        "hr",
        F.coalesce("n_total", F.lit(0)).alias("n_total"),
        F.coalesce("n_err", F.lit(0)).alias("n_err"),
    )
    w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    short_rate = F.when(F.col("n_total") == 0, F.lit(0.0)).otherwise(
        F.col("n_err").cast("double") / F.col("n_total")
    )
    t6 = F.sum("n_total").over(w6)
    long_rate = F.when(t6 == 0, F.lit(0.0)).otherwise(
        F.sum("n_err").over(w6).cast("double") / t6
    )
    budget = SLO_TARGET_X1M / 1_000_000.0
    out = filled.select(
        "hr",
        "n_total",
        "n_err",
        F.round(short_rate / F.lit(budget), 6).alias("burn_1h"),
        F.round(long_rate / F.lit(budget), 6).alias("burn_6h"),
        ((short_rate / F.lit(budget) > 1.2) & (long_rate / F.lit(budget) > 1.1)).alias(
            "alert"
        ),
    )
    return out.orderBy("hr")


def slo_burn(events: DataFrame) -> DataFrame:
    """Multi-window SLO burn-rate alerts (the Google-SRE fast+slow
    burn pattern): per hour, the 1-hour and trailing-6-hour error
    shares as burn multiples of a 20% error budget, with the alert
    flag requiring BOTH windows hot (fast window catches the spike,
    slow window suppresses flappy one-hour blips).

    Counts stay exact longs through the frame sums — the trailing-6h
    rate divides two summed integers, never averages floats — so both
    engines produce identical doubles.  Scale shape: the corpus
    collapses to |hours| rows in one partial-agg groupBy; the
    gap-filled grid and both frame windows run on that bounded
    series (see ``slo_burn_from_hours``).
    """
    hours = events.groupBy(
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("bigint").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    return slo_burn_from_hours(hours)


def q_events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return slo_burn(load_events(spark, sf_dir))


QUERIES["events-slo-burn"] = q_events_slo_burn

ORACLES["events-slo-burn"] = """
    WITH hours0 AS (
      SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_err
      FROM events GROUP BY 1),
    grid AS (
      SELECT UNNEST(range(mn, mx + 1)) AS hr
      FROM (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM hours0)),
    hours AS (
      SELECT g.hr,
             COALESCE(h.n_total, 0) AS n_total,
             COALESCE(h.n_err, 0) AS n_err
      FROM grid g LEFT JOIN hours0 h ON g.hr = h.hr),
    rates AS (
      SELECT hr, n_total, n_err,
             CASE WHEN n_total = 0 THEN 0.0
                  ELSE CAST(n_err AS DOUBLE) / n_total END AS sr,
             CASE WHEN SUM(n_total) OVER w6 = 0 THEN 0.0
                  ELSE CAST(SUM(n_err) OVER w6 AS DOUBLE)
                       / SUM(n_total) OVER w6 END AS lr
      FROM hours
      WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT hr, n_total, n_err,
           ROUND(sr / 0.2, 6) AS burn_1h,
           ROUND(lr / 0.2, 6) AS burn_6h,
           sr / 0.2 > 1.2 AND lr / 0.2 > 1.1 AS alert
    FROM rates ORDER BY hr
"""


def abtest_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guardrail for `events-abtest-lift`: the
    chi-square statistic of the observed arm split against the
    designed 50/50 — the FIRST thing an experiment platform checks,
    because a lift read off a skewed assignment is invalid no matter
    how significant it looks (Fabijan et al.'s diagnosis-before-
    readout rule).  χ² with 1 df ≈ 3.84 at p=0.05; the flag trips
    above it.

    Same md5-parity assignment expression as the lift key (so the two
    keys audit the SAME experiment), exact integer arm counts from
    one distinct-collapse, and the χ² arithmetic runs once on a
    single row: ``Σ (obs − exp)² / exp`` with exp = n/2.
    """
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 2
    )
    users = events.select("user_id").distinct().withColumn("arm", arm)
    counts = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    # (obs−n/2)²/(n/2) summed over both arms = (n_a−n_b)²/n, exactly
    chisq = (
        (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    ).cast("double") / n.cast("double")
    return counts.select(
        "n_a",
        "n_b",
        F.round(chisq, 6).alias("srm_chisq"),
        (chisq > F.lit(3.841459)).alias("srm_violated"),
    )


def q_events_abtest_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return abtest_srm_check(load_events(spark, sf_dir))


QUERIES["events-abtest-srm"] = q_events_abtest_srm

ORACLES["events-abtest-srm"] = """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
               AS arm
      FROM u),
    counts AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM arms)
    SELECT n_a, n_b,
           ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / (n_a + n_b), 6) AS srm_chisq,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
             > 3.841459 AS srm_violated
    FROM counts
"""


FRESHNESS_SLA_HOURS = 2


def freshness_gate(events: DataFrame) -> DataFrame:
    """Data-freshness expectations gate: per event type, the latest
    event time, its lag behind the stream's global high-water mark,
    and a staleness flag at a 2-hour SLA — the "did source X stop
    emitting" check every ingestion DAG runs before publishing a
    partition (the freshness member of the `validate-expectations`
    family).

    All time math is exact integer microseconds; the global max
    arrives via a window over the |types| aggregate rows, not a
    scalar-broadcast join.  Scale shape: ONE map-side-combinable
    groupBy collapses the stream to |types| rows; everything after is
    constant-size.
    """
    per_type = events.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy()
    lag_us = F.max("last_us").over(w) - F.col("last_us")
    lag_hours = F.round(lag_us.cast("double") / 3_600_000_000.0, 6)
    # epoch micros, not a rendered timestamp string: engines disagree
    # on trailing-zero fractional-second formatting, integers never do
    return per_type.select(
        "event_type",
        "n_events",
        F.col("last_us").alias("last_seen_us"),
        lag_hours.alias("lag_hours"),
        (lag_us > FRESHNESS_SLA_HOURS * 3_600_000_000).alias("stale"),
    ).orderBy("event_type")


def q_validate_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return freshness_gate(load_events(spark, sf_dir))


QUERIES["validate-freshness"] = q_validate_freshness

ORACLES["validate-freshness"] = """
    WITH per_type AS (
      SELECT event_type, MAX(epoch_us(ts)) AS last_us,
             COUNT(*) AS n_events
      FROM events GROUP BY 1)
    SELECT event_type, n_events,
           last_us AS last_seen_us,
           ROUND(CAST(MAX(last_us) OVER () - last_us AS DOUBLE)
                 / 3600000000.0, 6) AS lag_hours,
           MAX(last_us) OVER () - last_us > 7200000000 AS stale
    FROM per_type ORDER BY event_type
"""


# Staged / restated oracles for big-SF sweeps (see registry.oracle_sql_big):
# semantically identical readouts whose registry form is verifier-infeasible
# at sf10.  skyline-pareto's registry oracle is the naive NOT-EXISTS
# self-join — deliberately algorithm-independent from the engine, and the
# right cross-check at sf ≤ 1 — but it is O(n²) with NO equi key (4×10¹²
# pair tests over sf10's 2M-row part).  The big twin restates the SAME
# dominance semantics through the sort-based identity the docstring of
# :func:`skyline_2d` derives: p survives iff no strictly-cheaper price
# reaches its size (running max over the per-price maxima) and no
# same-price row strictly beats it.  Proven row-identical to the naive
# form at sf0.01/sf0.1 before use (tests/test_stream_compare.py sibling
# check in the sweep; the naive form remains the registry oracle).
ORACLES_BIG = {
    "skyline-pareto": """
        WITH pp AS (
          SELECT p_retailprice, MAX(p_size) AS pmax
          FROM part GROUP BY 1),
        run AS (
          SELECT p_retailprice, pmax,
                 MAX(pmax) OVER (ORDER BY p_retailprice
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS m1
          FROM pp)
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        JOIN run r ON r.p_retailprice = p.p_retailprice
        WHERE NOT (COALESCE(r.m1 >= p.p_size, FALSE) OR r.pmax > p.p_size)
        ORDER BY p_partkey
    """,
    # rank-similarity-join's registry oracle is the naive member-level
    # pair histogram — O(users²) within a top-1 block, ~105M pairs at
    # sf10 (the quadratic that filled the round-7 sweep disk).  This
    # twin restates the SAME readout in the ranking-permutation domain:
    # users collapse onto their distinct ranking string, cross pairs
    # weight na*nb over top-1-blocked distinct-ranking pairs, intra
    # pairs count C(n,2) at d=0, and n_users sums the member counts of
    # the rankings involved at each distance — ≤ |types|! rows at any
    # corpus size.  Equivalence-tested against the naive form in
    # tests/test_dedup_staged_oracles.py.
    "rank-similarity-join": """
        WITH counts AS (
          SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT u.user_id, t.event_type
          FROM (SELECT DISTINCT user_id FROM events) u
          CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        full_ AS (
          SELECT g.user_id, g.event_type, COALESCE(c.n, 0) AS n
          FROM grid g LEFT JOIN counts c USING (user_id, event_type)),
        ranks AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY n DESC, event_type) AS r
          FROM full_),
        vec AS (
          SELECT user_id, string_agg(event_type, '|' ORDER BY r) AS rv
          FROM ranks WHERE user_id IS NOT NULL GROUP BY 1),
        gsz AS (SELECT rv, COUNT(*) AS n_members FROM vec GROUP BY 1),
        rvr AS (
          SELECT rv, t.e AS event_type, t.r
          FROM gsz, LATERAL (
            SELECT UNNEST(string_split(rv, '|')) AS e,
                   UNNEST(range(1, len(string_split(rv, '|')) + 1)) AS r) t),
        rp AS (
          SELECT a.rv AS rva, b.rv AS rvb, a.n_members AS na, b.n_members AS nb
          FROM gsz a JOIN gsz b
            ON string_split(a.rv, '|')[1] = string_split(b.rv, '|')[1]
           AND a.rv < b.rv),
        fr AS (
          SELECT p.rva, p.rvb, p.na, p.nb,
                 CAST(SUM(ABS(ra.r - rb.r)) AS BIGINT) AS footrule
          FROM rp p
          JOIN rvr ra ON ra.rv = p.rva
          JOIN rvr rb ON rb.rv = p.rvb AND rb.event_type = ra.event_type
          GROUP BY 1, 2, 3, 4
          HAVING SUM(ABS(ra.r - rb.r)) <= 4),
        np AS (
          SELECT footrule, CAST(SUM(CAST(na AS BIGINT) * nb) AS BIGINT) AS np
          FROM fr GROUP BY 1
          UNION ALL
          SELECT CAST(0 AS BIGINT),
                 CAST(SUM(n_members * (n_members - 1) // 2) AS BIGINT)
          FROM gsz),
        npairs AS (
          SELECT footrule, CAST(SUM(np) AS BIGINT) AS n_pairs
          FROM np GROUP BY 1),
        fl AS (
          SELECT footrule, CAST(SUM(n_members) AS BIGINT) AS n_users
          FROM (
            SELECT DISTINCT footrule, rv FROM (
              SELECT footrule, rva AS rv FROM fr
              UNION ALL SELECT footrule, rvb FROM fr
              UNION ALL
              SELECT CAST(0 AS BIGINT), rv FROM gsz WHERE n_members >= 2)
          ) u JOIN gsz USING (rv) GROUP BY 1)
        SELECT n.footrule, n.n_pairs, f.n_users
        FROM npairs n JOIN fl f USING (footrule)
        ORDER BY n.footrule
    """,
}
