"""The delegated SQL execution surface (SURVEY.md §2.B), Spark-first.

The reference delegates every relational operator to SQLite (reference
``pandasqlite/pandasqlite.py:77,223``; ``README.md:49``); this module is
the Spark-native equivalent of that surface, one builder per SURVEY.md
§2.B query key.  Builders are DataFrame-API-first so Catalyst owns the
physical strategy (pushdown, pruning, join selection, AQE); operators
whose essence is a SQL construct (scalar/correlated subqueries, CTEs)
use ``spark.sql`` over temp views — same Catalyst plan either way.

Scale notes are inline per builder.  Cross-engine determinism
conventions are documented in :mod:`pandasqlite_spark.operators.common`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pandasqlite_spark.operators.common import davg, dec, dsum, load, register_views, scratch_dir

# ---------------------------------------------------------------------------
# Scans & sinks (§2.B rows 1-3)
# ---------------------------------------------------------------------------


def q_scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan over parquet (§2.B-2).  At 100 TB this is a
    partitioned columnar scan with pruning — never a driver collect."""
    return load(spark, sf_dir, "region")


def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source (§2.B-1): round-trip region through CSV with an explicit
    schema (inferSchema is a full extra pass — avoid in production)."""
    tmp = scratch_dir("region_csv", sf_dir)
    load(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").csv(tmp, header=True)
    return spark.read.schema("r_regionkey INT, r_name STRING").csv(tmp, header=True)


# ---------------------------------------------------------------------------
# Projection / distinct / filters (§2.B rows 4-8)
# ---------------------------------------------------------------------------


def q_project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


def q_select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("mktsegment")
    ).distinct()


def q_filter_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both predicates reach the parquet scan as PushedFilters."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45.0)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_filter_in_between_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(100000.0, 200000.0)
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite LIKE is ASCII-case-insensitive (§2.B-8 dialect Δ) →
    expressed as ILIKE on the Spark side."""
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").ilike("%RED%")).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# Sort / limit / top-k (§2.B rows 22-23)
# ---------------------------------------------------------------------------


def q_sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    return s.orderBy(F.col("s_nationkey").asc(), F.col("s_acctbal").desc())


def q_top_k_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Catalyst TakeOrderedAndProject (no full sort,
    per-partition top-k then merge — the scale-correct plan)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.orderBy("c_custkey").select("c_custkey", "c_name").offset(10).limit(20)


# ---------------------------------------------------------------------------
# Aggregation (§2.B rows 14-18)
# ---------------------------------------------------------------------------


def q_agg_count_sum_avg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan → pushed filter → partial/final
    hash aggregate on two low-cardinality keys.  The flagship query."""
    li = load(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(revenue).cast("double").alias("sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_group_by_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 5000.0)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "total_bal"))
        .filter(F.col("n_cust") >= 3)
    )


def q_agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite GROUP_CONCAT (§2.B-16) — order pinned by sorting the
    collected array (GROUP_CONCAT order is nondeterministic in both
    engines otherwise)."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names")
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE/ROLLUP (§2.B-18) — beyond SQLite, native in Spark."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")
    )


def q_corr_sum_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r expanded into SUM/COUNT arithmetic — the exact shape the
    reference's prompt demands ("avoid using CORR or AVG", reference
    ``pandasqlite/pandasqlite.py:225``, because SQLite lacks CORR).
    Decimal sums keep the expansion bit-identical across engines."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double").alias("syy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").alias("sxy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    # decimal(·,4)→double conversion can differ across engines in the
    # last ulp once the scaled integer exceeds 2^53 — pin 9 digits
    return agg.select("l_returnflag", F.round(r, 9).alias("pearson_r"))


# ---------------------------------------------------------------------------
# Joins (§2.B rows 9-13)
# ---------------------------------------------------------------------------


def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-by-nation for one region.  Dimension tables are broadcast
    (explicitly — at 100 TB the fact side never shuffles for a dim
    join); the orders⋈customer join shuffles on the key, AQE-coalesced."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
    )


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi predicate on top of an equi key: Catalyst plans the equi
    part as the join key and the inequality as a post-join filter —
    still a hash join, not a nested loop."""
    s1 = load(spark, sf_dir, "supplier").alias("s1")
    s2 = load(spark, sf_dir, "supplier").alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
            & (F.col("s1.s_acctbal") > F.col("s2.s_acctbal")),
        )
        .groupBy(F.col("s1.s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").select("r_name")
    st = load(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return r.crossJoin(st)


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, ["nationkey"], "full")


def q_join_semi_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE EXISTS / IN-subquery (§2.B-13) → LeftSemi join."""
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_join_anti_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE NOT EXISTS (§2.B-13) → LeftAnti join."""
    p = load(spark, sf_dir, "part")
    hot = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49.0)
    return p.join(hot, p.p_partkey == hot.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


# ---------------------------------------------------------------------------
# Set operations (§2.B row 24)
# ---------------------------------------------------------------------------


def _cust_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))


def _supp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cust_nations(spark, sf_dir).union(_supp_nations(spark, sf_dir)).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cust_nations(spark, sf_dir).intersect(_supp_nations(spark, sf_dir))


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_nationkey").alias("nationkey")
    )
    return big.subtract(_supp_nations(spark, sf_dir).filter(F.col("nationkey") < 5))


# ---------------------------------------------------------------------------
# Subqueries & CTEs (§2.B row 25) — SQL form; Catalyst decorrelates
# ---------------------------------------------------------------------------

_SCALAR_SUBQ = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 2 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM orders)
"""

_CORRELATED_SUBQ = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > 1.5 * (
  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey)
"""

_CTE_BASIC = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DOUBLE) AS total_rev
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev > 1000000.0
"""


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SCALAR_SUBQ)


def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_CORRELATED_SUBQ)


def q_cte_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(_CTE_BASIC)


# ---------------------------------------------------------------------------
# Conditionals, casts, scalar functions (§2.B rows 26-31)
# ---------------------------------------------------------------------------


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000.0, "small")
        .when(F.col("o_totalprice") < 300000.0, "mid")
        .otherwise("big")
    )
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
    return (
        o.select(bucket.alias("bucket"), status.alias("status"))
        .groupBy("bucket", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silent-cast parity (§2.B-27): ANSI off ⇒ bad casts → NULL, like
    SQLite affinity; DuckDB needs TRY_CAST for the same forgiveness.
    DuckDB CAST(double AS INT) *rounds* while Spark truncates — floor
    first, so both engines agree by construction."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
        F.col("o_orderstatus").try_cast("bigint").alias("bad_cast"),
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.length("c_name").alias("len"),
        F.substring("c_name", 10, 4).alias("sub"),
        F.instr(F.col("c_name"), "9").alias("pos"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("rep"),
        # null-pin: Spark concat propagates NULL; the oracle uses ||
        # (also null-propagating) — DuckDB's CONCAT would skip NULL
        # args and emit '' here (NULLS_SWEEP round 6)
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.expr("c_name || '!'").alias("bang"),
    )


def q_date_parse_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's biggest dialect gap (§2.B-29): GO-Sales dates are
    dd/MM/yyyy TEXT.  Round-trip through that format and filter a year."""
    li = load(spark, sf_dir, "lineitem")
    ds = F.date_format("l_shipdate", "dd/MM/yyyy")
    parsed = F.to_date(ds, "dd/MM/yyyy")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.date_format(parsed, "yyyy-MM-dd").alias("ship_date"),
        )
        .filter(F.year(F.to_date("ship_date")) == 1995)
    )


def q_date_extract_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("ab"),
        F.round(F.sqrt("l_extendedprice"), 3).alias("sq"),
        # explicit multiply, not pow(): pow is not correctly-rounded IEEE
        # and differs across libm implementations in the last ulp
        ((F.lit(1.0) + F.col("l_tax")) * (F.lit(1.0) + F.col("l_tax"))).alias("pw"),
        # same for ln — pin 9 digits (sqrt IS correctly rounded, kept raw)
        F.round(F.log(F.col("l_extendedprice")), 9).alias("lg"),
        F.least("l_discount", "l_tax").alias("le"),
        F.greatest("l_discount", "l_tax").alias("gr"),
    )


def q_arith_int_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite int/int is integer division (§2.B-31); Spark's `/` is
    double division, so the faithful form is `div` (`//` in DuckDB)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey div 7").alias("d"),
        (F.col("o_orderkey") % 7).alias("m"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite json1 surface (§2.B-32) over the events.props JSON column."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
    )


# ---------------------------------------------------------------------------
# Window functions (§2.B rows 19-21)
# ---------------------------------------------------------------------------


def q_window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group — the canonical rank-then-filter window plan
    (single shuffle on the partition key; Spark pushes a group-topK
    WindowGroupLimit before the full sort)."""
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    return (
        li.select(
            "l_returnflag",
            "l_quantity",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # asc_nulls_last explicitly: Spark default-sorts ASC NULLS FIRST,
    # DuckDB NULLS LAST — on a nullable ordering key the neighbors (and
    # so every lag/lead) differ between engines (NULLS sweep)
    w = W.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def q_window_frame_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        # NULLS LAST: see q_window_lag_lead — frame membership must not
        # depend on engine null-placement defaults
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(dec("value")).over(w).cast("double").alias("running_total"),
    )


# ---------------------------------------------------------------------------
# Semantic-parity and function-surface extras
# ---------------------------------------------------------------------------


def q_filter_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery containing NULL is three-valued-logic
    quicksand (result: no row qualifies).  SQLite, Spark and DuckDB all
    agree — this key pins that the engine keeps ANSI 3VL here even with
    ansi.enabled=false."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_custkey NOT IN (SELECT NULLIF(c_custkey, 5) FROM customer)"
    )


def q_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function surface: one row per word of p_name."""
    p = load(spark, sf_dir, "part")
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayType function surface (§2.B-33 — absent in SQLite, native
    in Spark) over document token arrays."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    dedup = F.array_sort(F.array_distinct(toks))
    # null-pin: size() under the parity session's legacy conf yields -1
    # for a NULL array where ANSI/DuckDB yield NULL — guard explicitly
    # so BOTH sessions emit NULL on null text (NULLS_SWEEP round 6)
    return d.select(
        "doc_id",
        F.array_join(F.slice(dedup, 1, 3), ",").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.when(F.col("text").isNotNull(), F.size(F.array_distinct(toks))).alias(
            "n_distinct"
        ),
    )


def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles — SQLite has none; Spark's
    percentile() and DuckDB's quantile_cont/median share linear
    interpolation, so values match bit-for-bit on 2-decimal doubles."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75_qty"),
    )


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select(
        "c_custkey", "c_mktsegment", F.ntile(4).over(w).alias("quartile")
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_orderkey").over(w).alias("top_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_key"),
        F.last_value("o_orderkey").over(wfull).alias("bottom_key"),
    )


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 7), "yyyy-MM-dd").alias("next_week"),
    )


def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.col("p_name").rlike("^re").alias("is_re"),
        # null-pin: explicit NULL for null input (legacy size() = -1)
        F.when(
            F.col("p_name").isNotNull(),
            F.size(F.expr("regexp_extract_all(p_name, '[aeiou]', 0)")),
        ).alias("n_vowels"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect) — one entry per builder above
# ---------------------------------------------------------------------------

_D = "CAST({x} AS DECIMAL(18,2))"


def _dsum(x: str, alias: str) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


ORACLES: dict[str, str] = {
    "scan-table": "SELECT * FROM region",
    "scan-csv": "SELECT * FROM region",
    "project-alias": (
        "SELECT l_orderkey, l_linenumber,"
        " l_extendedprice * (1 - l_discount) AS net_price FROM lineitem"
    ),
    "select-distinct": "SELECT DISTINCT c_mktsegment AS mktsegment FROM customer",
    "filter-equality": (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"
        " WHERE l_returnflag = 'R' AND l_quantity > 45.0"
    ),
    "filter-in-between-null": (
        "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders"
        " WHERE o_orderpriority IN ('1-URGENT','2-HIGH')"
        " AND o_totalprice BETWEEN 100000.0 AND 200000.0"
        " AND o_orderdate IS NOT NULL"
    ),
    "filter-like": "SELECT p_partkey, p_name FROM part WHERE p_name ILIKE '%RED%'",
    "sort-multi-key": "SELECT * FROM supplier ORDER BY s_nationkey ASC, s_acctbal DESC",
    "top-k-limit": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    ),
    "limit-offset": (
        "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 10"
    ),
    "agg-count-sum-avg-min-max": f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS count_order,
               {_dsum('l_quantity', 'sum_qty')},
               {_dsum('l_extendedprice', 'sum_base_price')},
               CAST(SUM({_D.format(x='l_extendedprice')}
                    * (CAST(1 AS DECIMAL(18,2)) - {_D.format(x='l_discount')}))
                    AS DOUBLE) AS sum_disc_price,
               CAST(SUM({_D.format(x='l_quantity')}) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               MIN(l_quantity) AS min_qty,
               MAX(l_extendedprice) AS max_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg-count-distinct": (
        "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,"
        " COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority"
    ),
    "group-by-having": f"""
        SELECT c_nationkey, COUNT(*) AS n_cust, {_dsum('c_acctbal', 'total_bal')}
        FROM customer WHERE c_acctbal > 5000.0
        GROUP BY c_nationkey HAVING COUNT(*) >= 3
    """,
    "agg-group-concat": (
        "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names"
        " FROM nation GROUP BY n_regionkey"
    ),
    "agg-rollup": f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_dsum('l_quantity', 'sum_qty')}
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "corr-sum-expansion": """
        WITH s AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS pearson_r
        FROM s
    """,
    "join-inner-equi": f"""
        SELECT n_name, COUNT(*) AS n_orders, {_dsum('o_totalprice', 'total')}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "join-left-outer": (
        "SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer"
        " LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey"
    ),
    "join-theta": """
        SELECT s1.s_nationkey AS nationkey, COUNT(*) AS n_pairs
        FROM supplier s1 JOIN supplier s2
          ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal > s2.s_acctbal
        GROUP BY s1.s_nationkey
    """,
    "join-cross": (
        "SELECT r_name, status FROM region CROSS JOIN"
        " (SELECT DISTINCT o_orderstatus AS status FROM orders) t"
    ),
    "join-full-outer": """
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.n_cust, s.n_supp
        FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
              FROM customer GROUP BY c_nationkey) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
              FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey) s
        ON c.nationkey = s.nationkey
    """,
    "join-semi-subquery": (
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS"
        " (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"
    ),
    "join-anti-subquery": (
        "SELECT p_partkey, p_name FROM part WHERE NOT EXISTS"
        " (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 49.0)"
    ),
    "set-union": (
        "SELECT c_nationkey AS nationkey FROM customer"
        " UNION SELECT s_nationkey FROM supplier"
    ),
    "set-intersect": (
        "SELECT c_nationkey AS nationkey FROM customer"
        " INTERSECT SELECT s_nationkey FROM supplier"
    ),
    "set-except": (
        "SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0"
        " EXCEPT SELECT s_nationkey FROM supplier WHERE s_nationkey < 5"
    ),
    "subquery-scalar": _SCALAR_SUBQ,
    "subquery-correlated": _CORRELATED_SUBQ,
    "cte-basic": _CTE_BASIC,
    "case-when": """
        SELECT CASE WHEN o_totalprice < 100000.0 THEN 'small'
                    WHEN o_totalprice < 300000.0 THEN 'mid'
                    ELSE 'big' END AS bucket,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    """,
    "cast-types": """
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
               CAST(o_orderkey AS VARCHAR) AS key_str,
               CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
               strftime(o_orderdate, '%Y-%m-%d') AS odate,
               TRY_CAST(o_orderstatus AS BIGINT) AS bad_cast
        FROM orders
    """,
    "string-funcs": """
        SELECT c_custkey,
               UPPER(c_name) AS up,
               CAST(LENGTH(c_name) AS INTEGER) AS len,
               SUBSTRING(c_name, 10, 4) AS sub,
               CAST(INSTR(c_name, '9') AS INTEGER) AS pos,
               REGEXP_REPLACE(c_name, 'Customer', 'Cust') AS rep,
               TRIM(' ' || c_mktsegment || ' ') AS trimmed,
               c_name || '!' AS bang
        FROM customer
    """,
    "date-parse-filter": """
        SELECT l_orderkey, l_linenumber,
               strftime(strptime(strftime(l_shipdate, '%d/%m/%Y'), '%d/%m/%Y'),
                        '%Y-%m-%d') AS ship_date
        FROM lineitem
        WHERE year(strptime(strftime(l_shipdate, '%d/%m/%Y'), '%d/%m/%Y')) = 1995
    """,
    "date-extract-group": f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
               COUNT(*) AS n_orders, {_dsum('o_totalprice', 'total')}
        FROM orders GROUP BY 1, 2
    """,
    "math-funcs": """
        SELECT l_orderkey, l_linenumber,
               ABS(l_discount - 0.05) AS ab,
               ROUND(SQRT(l_extendedprice), 3) AS sq,
               (1.0 + l_tax) * (1.0 + l_tax) AS pw,
               ROUND(LN(l_extendedprice), 9) AS lg,
               LEAST(l_discount, l_tax) AS le,
               GREATEST(l_discount, l_tax) AS gr
        FROM lineitem
    """,
    "arith-int-division": (
        "SELECT o_orderkey, o_orderkey // 7 AS d, o_orderkey % 7 AS m FROM orders"
    ),
    "json-extract": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
        FROM events
    """,
    "window-row-number": """
        SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
          FROM customer) t
        WHERE rn <= 3
    """,
    "window-rank": """
        SELECT l_returnflag, l_quantity, rnk, drnk FROM (
          SELECT l_returnflag, l_quantity,
                 CAST(RANK() OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity DESC) AS INTEGER) AS rnk,
                 CAST(DENSE_RANK() OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity DESC) AS INTEGER) AS drnk
          FROM lineitem) t
        WHERE rnk <= 5
    """,
    "window-lag-lead": """
        SELECT user_id, event_id, value,
               LAG(value) OVER (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
                 AS prev_value,
               LEAD(value) OVER (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
                 AS next_value
        FROM events
    """,
    "window-frame-running-sum": """
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                 PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_total
        FROM events
    """,
    "filter-not-in-null": (
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_custkey NOT IN (SELECT NULLIF(c_custkey, 5) FROM customer)"
    ),
    "explode-lateral": (
        "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part"
    ),
    "array-funcs": r"""
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(
                   string_split_regex(trim(lower(text)), '\s+')))[1:3], ',') AS first3,
               list_contains(string_split_regex(trim(lower(text)), '\s+'), 'the')
                 AS has_the,
               CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
                 AS INTEGER) AS n_distinct
        FROM documents
    """,
    "agg-median": """
        SELECT l_returnflag,
               median(l_quantity) AS median_qty,
               quantile_cont(l_quantity, 0.25) AS p25_qty,
               quantile_cont(l_quantity, 0.75) AS p75_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "window-ntile": """
        SELECT c_custkey, c_mktsegment,
               CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile
        FROM customer
    """,
    "window-first-last": """
        SELECT o_orderkey, o_orderpriority,
               FIRST_VALUE(o_orderkey) OVER w AS top_key,
               NTH_VALUE(o_orderkey, 2) OVER wf AS second_key,
               LAST_VALUE(o_orderkey) OVER wf AS bottom_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey),
               wf AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "date-arith": """
        SELECT o_orderkey,
               CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
                 AS days_since,
               strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
               strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS next_week
        FROM orders
    """,
    "regexp-funcs": """
        SELECT p_partkey,
               regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
               regexp_matches(p_name, '^re') AS is_re,
               CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels
        FROM part
    """,
}

QUERIES = {
    "scan-table": q_scan_table,
    "scan-csv": q_scan_csv,
    "project-alias": q_project_alias,
    "select-distinct": q_select_distinct,
    "filter-equality": q_filter_equality,
    "filter-in-between-null": q_filter_in_between_null,
    "filter-like": q_filter_like,
    "sort-multi-key": q_sort_multi_key,
    "top-k-limit": q_top_k_limit,
    "limit-offset": q_limit_offset,
    "agg-count-sum-avg-min-max": q_agg_count_sum_avg_min_max,
    "agg-count-distinct": q_agg_count_distinct,
    "group-by-having": q_group_by_having,
    "agg-group-concat": q_agg_group_concat,
    "agg-rollup": q_agg_rollup,
    "corr-sum-expansion": q_corr_sum_expansion,
    "join-inner-equi": q_join_inner_equi,
    "join-left-outer": q_join_left_outer,
    "join-theta": q_join_theta,
    "join-cross": q_join_cross,
    "join-full-outer": q_join_full_outer,
    "join-semi-subquery": q_join_semi_subquery,
    "join-anti-subquery": q_join_anti_subquery,
    "set-union": q_set_union,
    "set-intersect": q_set_intersect,
    "set-except": q_set_except,
    "subquery-scalar": q_subquery_scalar,
    "subquery-correlated": q_subquery_correlated,
    "cte-basic": q_cte_basic,
    "case-when": q_case_when,
    "cast-types": q_cast_types,
    "string-funcs": q_string_funcs,
    "date-parse-filter": q_date_parse_filter,
    "date-extract-group": q_date_extract_group,
    "math-funcs": q_math_funcs,
    "arith-int-division": q_arith_int_division,
    "json-extract": q_json_extract,
    "window-row-number": q_window_row_number,
    "window-rank": q_window_rank,
    "window-lag-lead": q_window_lag_lead,
    "window-frame-running-sum": q_window_frame_running_sum,
    "filter-not-in-null": q_filter_not_in_null,
    "explode-lateral": q_explode_lateral,
    "array-funcs": q_array_funcs,
    "agg-median": q_agg_median,
    "window-ntile": q_window_ntile,
    "window-first-last": q_window_first_last,
    "date-arith": q_date_arith,
    "regexp-funcs": q_regexp_funcs,
}
