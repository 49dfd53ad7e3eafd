"""Extended SQL surface: grouping sets, unpivot, higher-order array
functions, map/struct types, null-safe equality, series generation,
deterministic sampling, union-by-name, the parquet write path, and
bool/bitwise aggregates.

These go past SQLite's grammar (the reference delegates everything to
SQLite — `pandasqlite.py:77,223`; SURVEY.md §2.B-18/33 marks grouping
sets and array/map types as absent there), but they are first-class in
Spark SQL and in any 100 TB pipeline: multi-resolution reporting
(GROUPING SETS computes all levels in one shuffle), long/wide reshaping
(unpivot is a zero-shuffle row-local expansion), nested types, and a
partitioned parquet sink whose partition column prunes on read.

Every key is oracle-checked against DuckDB; where an operation is
engine-specific by construction (approximate sketches), the query emits
a *verifiable assertion* (boolean within-tolerance flag) so the driver
hash-compare still applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandasqlite_spark.operators.common import dsum, load, register_views, scratch_dir


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: subtotal levels (flag×status, flag, grand total)
    in ONE pass / one shuffle — at 100 TB this replaces three scans.
    SQLite has no grouping sets (SURVEY.md §2.B-18)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def q_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via ``stack`` — row-local generation, no
    shuffle, pipelined inside whole-stage codegen."""
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'retailprice', CAST(p_retailprice AS DOUBLE),"
        " 'size', CAST(p_size AS DOUBLE)) AS (metric, val)",
    )


def q_higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions (transform/filter/aggregate) — lambda
    expressions evaluated JVM-side per row; the idiomatic replacement
    for per-row Python loops (SURVEY.md §2.B-33)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lens = F.transform(toks, lambda x: F.length(x))
    # null-pin: explicit NULL for null text (legacy size() = -1 under
    # the parity session; ANSI/DuckDB yield NULL — NULLS_SWEEP round 6)
    return d.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.size(F.filter(toks, lambda x: F.length(x) > 3)),
        ).alias("n_long"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).alias("total_len"),
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: build a map from columns, extract by key.
    The oracle states the algebraic identity (extracting what was put
    in), so the check pins Spark's map semantics to a known answer."""
    e = load(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("type"), F.lit("user")),
        F.array(F.col("event_type"), F.col("user_id").cast("string")),
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("etype"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StructType round-trip: named_struct → field access (same
    identity-oracle pattern as map-funcs)."""
    c = load(spark, sf_dir, "customer")
    s = F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal"))
    return c.select(
        "c_custkey",
        s.getField("name").alias("name"),
        F.round(s.getField("bal") * 2, 2).alias("double_bal"),
    )


def q_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality ``<=>`` (DuckDB/ANSI: IS NOT DISTINCT FROM):
    NULL <=> NULL is TRUE, unlike ``=``."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        "SELECT COUNT(*) AS n_null5 FROM customer "
        "WHERE NULLIF(c_nationkey, 5) <=> NULL"
    )


def q_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series generation: sequence + explode (DuckDB: generate_series)
    — the date-spine builder for gap-filling time series joins."""
    return spark.sql(
        """
        SELECT CAST(month(d) AS INT) AS m, COUNT(*) AS n_days
        FROM (SELECT explode(sequence(DATE'1995-01-01', DATE'1995-03-31',
                                      interval 1 day)) AS d)
        GROUP BY month(d)
        """
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling: md5-prefix predicate gives the SAME ~1/16
    sample in any engine, any partitioning, any run — unlike
    TABLESAMPLE/rand(), which are engine- and split-dependent.  This is
    how a 100 TB pipeline takes a reproducible dev slice."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    ).select("o_orderkey", "o_totalprice")


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: schema alignment by column NAME, not position —
    the safe union for evolving schemas (a positional union here would
    silently swap the columns)."""
    n = load(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") <= 1).select("n_nationkey", "n_name")
    b = n.filter(F.col("n_regionkey") > 1).select("n_name", "n_nationkey")
    return a.unionByName(b)


def q_write_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink path: write orders partitioned by o_orderpriority,
    read back, aggregate.  Partitioning by the grouping key means the
    read-side aggregation gets partition pruning for free and the
    directory layout IS the coarse index — the standard layout for a
    100 TB lakehouse table."""
    o = load(spark, sf_dir, "orders")
    out = os.path.join(scratch_dir("roundtrip"), "orders")
    (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    # explicit schema on read-back: no inference pass, and an empty
    # (pruned-away) source — which writes only _SUCCESS under
    # partitionBy — still reads as a typed zero-row table
    written = o.select("o_orderkey", "o_totalprice", "o_orderpriority").schema
    back = spark.read.schema(written).parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old batch written without
    ``c_mktsegment`` and a new batch written with it are unioned by
    ``mergeSchema`` into one widened schema (missing column → NULL) —
    how a 100 TB lakehouse table absorbs additive schema changes
    without rewriting history.  ``mergeSchema`` reconciles footers at
    planning time (one footer read per file — cheap next to the scan);
    steady-state readers would pin the merged schema in the catalog
    instead of re-merging per query."""
    c = load(spark, sf_dir, "customer")
    base = scratch_dir("evolve")
    old_b, new_b = os.path.join(base, "b1"), os.path.join(base, "b2")
    c.filter(F.col("c_nationkey") <= 11).select("c_custkey", "c_name").write.mode(
        "overwrite"
    ).parquet(old_b)
    c.filter(F.col("c_nationkey") > 11).select(
        "c_custkey", "c_name", "c_mktsegment"
    ).write.mode("overwrite").parquet(new_b)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(old_b, new_b)
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing: ``from_json`` with a declared schema
    (vs ``get_json_object``'s per-path string extraction in
    `json-extract`) plus a ``to_json`` re-serialization round trip.
    At scale this is the difference that matters: one ``from_json``
    parses the document ONCE into a struct that codegen field-accesses
    for free, where N ``get_json_object`` calls re-parse the string N
    times per row."""
    e = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k bigint")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k"),
        F.to_json(
            F.struct(F.col("event_id"), parsed.getField("k").alias("k"))
        ).alias("j"),
    )


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT parsing (Spark 4's open-schema answer to
    schema-full ``from_json``): ``parse_json`` converts the document to
    a binary VARIANT once; ``variant_get`` then path-extracts with
    per-call target types, and a missing path under ``try_variant_get``
    degrades to NULL instead of failing the pipeline.  VARIANT is the
    scale play for ragged/evolving JSON (no declared schema to migrate,
    shredded binary beats string re-parsing); this exercises parse →
    typed extraction → missing-path behavior on one pass."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "bigint").alias("absent"),
    )


_CSV_ROWS = [
    "1,10",            # valid
    "2,20",            # valid
    "3,notanumber",    # type-conversion failure → corrupt
    "5,",              # EMPTY field is valid CSV: parses as (5, NULL)
    "6,60,extra",      # too many tokens → corrupt
    "7",               # too few tokens → corrupt
    '8,"unclosed',     # broken quoting → corrupt
    "9,90",            # valid
]


_CSV_ML_ROWS = (
    'id,note\n'
    '1,"plain"\n'
    '2,"has a\nreal newline inside"\n'
    '3,"quote "" escape and\ntwo\nnewlines"\n'
    '4,last\n'
)


def q_scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-multiline CSV discipline: RFC-4180 quoted fields may
    contain literal newlines; the default line-split reader shreds such
    rows (8 physical lines here ≠ 4 records), so ``multiLine=true``
    must parse record-wise.  The cost is real and worth pinning in a
    scale doc: multiLine files are NOT line-splittable, so each FILE
    becomes one input partition — at 100 TB this forces many medium
    files instead of few huge ones (or a preprocessing rewrite to
    escaped-newline form).  The fixture pins both newline-bearing
    fields and the ``""`` quote escape; the oracle restates the parsed
    records as constants."""
    base = scratch_dir("csv_ml")
    path = os.path.join(base, "rows.csv")
    with open(path, "w") as f:
        f.write(_CSV_ML_ROWS)
    df = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')  # RFC-4180 "" quote escape (default is \\)
        .schema("id INT, note STRING")
        .csv(path)
    )
    return df.select(
        "id",
        F.length("note").alias("note_len"),
        F.size(F.split("note", "\n", -1)).alias("n_lines"),
    ).orderBy("id")


def q_scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record discipline on the CSV source: PERMISSIVE mode
    lands bad rows in ``_corrupt_record`` instead of failing the 100 TB
    job at row 73 billion; DROPMALFORMED silently discards them.  The
    fixture pins one of each failure class (bad type, extra tokens,
    missing tokens, broken quote) plus the ``5,`` edge — an EMPTY field
    is valid CSV, NOT malformed.

    Two real engine pitfalls are deliberately defeated here, because
    both silently change the answer:
    - **corrupt-record contents depend on the parsed projection** —
      if column pruning drops ``a``, a row whose only bad field is
      ``a`` stops being corrupt; the aggregate references every data
      column so the full row is always parsed.
    - **count() pushdown skips parsing entirely** — a bare
      ``COUNT(*)`` over DROPMALFORMED counts raw lines (8, not 4);
      counting a parsed column forces real parsing."""
    base = scratch_dir("csv_bad")
    path = os.path.join(base, "rows.csv")
    with open(path, "w") as f:
        f.write("\n".join(_CSV_ROWS) + "\n")
    schema = "a INT, b INT, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    perm_counts = permissive.agg(
        F.count(F.lit(1)).alias("n_permissive"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("a").isNotNull(), 1).otherwise(0)).alias("n_a_parsed"),
        F.sum(
            F.when(F.col("b").isNull() & F.col("_corrupt_record").isNull(), 1)
            .otherwise(0)
        ).alias("n_null_b_valid"),
    )
    dropped = (
        spark.read.schema("a INT, b INT")
        .option("mode", "DROPMALFORMED")
        .csv(path)
        # both aggregates depend on parsed VALUES (a bare COUNT(*)
        # or any constant-foldable expression skips parsing and
        # counts raw lines — 8, not 4), and together they project both
        # data columns, so row-level drops apply to the full row
        .agg(
            F.count("a").alias("n_dropmalformed"),
            F.sum("b").alias("b_total"),
        )
    )
    return perm_counts.crossJoin(dropped)


_JSONL_ROWS = [
    '{"a": 1, "b": 10}',            # valid
    '{"a": 2}',                     # missing field is VALID json → b NULL
    '{"a": "x", "b": 20}',          # type mismatch on a → corrupt
    '{"a": 4, "b": 40',             # broken syntax → corrupt
    '{"a": 5, "b": "y"}',           # type mismatch on b → corrupt
    '{"a": 6, "b": 60}',            # valid
]


def q_scan_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record discipline on the JSON-lines source — the JSON
    sibling of scan-csv-malformed, with JSON's own distinctions: a
    MISSING field is valid (NULL), a TYPE-MISMATCHED field corrupts the
    row in Spark's PERMISSIVE accounting, broken syntax corrupts it
    everywhere.  Same two engine pitfalls defeated: the aggregate
    references every data column (corrupt-record contents depend on
    the parsed projection) and counts parsed VALUES, never raw lines."""
    base = scratch_dir("json_bad")
    path = os.path.join(base, "rows.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(_JSONL_ROWS) + "\n")
    schema = "a INT, b INT, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    perm_counts = permissive.agg(
        F.count(F.lit(1)).alias("n_permissive"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("a").isNotNull(), 1).otherwise(0)).alias("n_a_parsed"),
        F.sum(
            F.when(F.col("b").isNull() & F.col("_corrupt_record").isNull(), 1)
            .otherwise(0)
        ).alias("n_null_b_valid"),
    )
    dropped = (
        spark.read.schema("a INT, b INT")
        .option("mode", "DROPMALFORMED")
        .json(path)
        .agg(
            F.count("a").alias("n_dropmalformed"),
            F.sum("b").alias("b_total"),
        )
    )
    return perm_counts.crossJoin(dropped)


def q_agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or and bit_and/bit_or/bit_xor aggregates — all
    partial-aggregatable (map-side combine), so the shuffle carries one
    row per (group × partition)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               bool_and(o_totalprice > 1000)   AS all_gt_1k,
               bool_or(o_totalprice > 100000)  AS any_gt_100k,
               bit_and(o_orderkey) AS band,
               bit_or(o_orderkey)  AS bor,
               bit_xor(o_orderkey) AS bxor
        FROM orders GROUP BY o_orderpriority
        """
    )


def q_approx_distinct_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx_count_distinct, checked as an assertion: the
    sketch estimate must land within 5% of the exact count.  Sketch
    values are engine-specific, so the *tolerance check* is the
    portable contract.  At 100 TB the sketch is mergeable (no
    count-distinct shuffle explosion) — that's the point.

    rsd is pinned to 0.02: Spark's default 0.05 is a *standard
    deviation*, not a bound — measured error at sf0.01 is 6.7% with
    the default and 0.4% at rsd=0.02 (the sketch grows from 2^11 to
    2^13 registers; still constant-size and mergeable)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT (abs(approx_count_distinct(o_custkey, 0.02)
                    - count(DISTINCT o_custkey))
                <= 0.05 * count(DISTINCT o_custkey)) AS ok
        FROM orders
        """
    )


def q_catalog_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path SQL the reference never had (SURVEY.md §2.C): CTAS
    into a managed parquet catalog table + INSERT INTO append, then
    query it back.  On a cluster this is the persistent-table path
    (warehouse dir on object storage); the append is a metadata-plus-
    files operation, no rewrite of existing data."""
    register_views(spark, sf_dir, ("nation",))
    spark.sql("DROP TABLE IF EXISTS cat_nation")
    # a fresh session's metastore doesn't know tables a previous run
    # left in the warehouse dir, so DROP alone can't clear the
    # location; remove the orphaned directory or CTAS fails
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "cat_nation"), ignore_errors=True)
    spark.sql(
        "CREATE TABLE cat_nation USING PARQUET AS "
        "SELECT * FROM nation WHERE n_regionkey <= 2"
    )
    spark.sql("INSERT INTO cat_nation SELECT * FROM nation WHERE n_regionkey > 2")
    return spark.sql(
        """
        SELECT n_regionkey, COUNT(*) AS n, min(n_name) AS first_name
        FROM cat_nation GROUP BY n_regionkey
        """
    )


def q_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (MERGE) without a row-level-ops table format: union the
    base with the change set, keep the newest version per key via a
    ranked window.  One shuffle on the key (none at all if the target
    is bucketed by it) — the standard CDC-compaction pattern where
    Delta/Iceberg MERGE isn't available."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = (
        o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0")
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
    )
    merged = o.withColumn("_v", F.lit(0)).unionByName(updates.withColumn("_v", F.lit(1)))
    w = W.partitionBy("o_orderkey").orderBy(F.desc("_v"))
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
    )


def q_table_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply — the Debezium/Kafka-compaction semantics
    ``upsert-emulation`` doesn't cover: a change stream of I/U/**D**
    ops with per-key *sequence numbers* applies onto a snapshot;
    last-writer-wins per key, and a terminal D drops the row entirely.

    The change stream is derived deterministically from the snapshot
    (keys %31==0 → D; %17==0 → U at +10%; then a second U at +20% for
    %34==0 keys, proving seq ordering matters; fresh keys +2M → I).
    Shape: one rank window over the small change stream picks each
    key's final op, then ONE full-outer co-partitioned join applies it
    — at 100 TB both sides hash-partition on the key (or zero shuffle
    with a bucketed target), and the change stream is typically <<1%
    of the snapshot, so AQE broadcasts it."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    deletes = o.filter(k % 31 == 0).select(
        k.alias("key"), F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"), F.lit(1).alias("seq"),
    )
    # price bumps in EXACT decimal: ROUND(double * 1.1, 2) rounds a
    # binary value whose decimal boundary cases Spark (BigDecimal
    # HALF_UP on the shortest decimal repr) and DuckDB (pure binary)
    # resolve differently — divergent keys appear once the sf1 key
    # selection hits a boundary price.  DECIMAL(12,2) × DECIMAL(2,1)
    # is exact, and decimal HALF_UP rounding agrees in both engines.
    def bump(factor: str) -> Column:
        return (
            F.round(
                F.col("o_totalprice").cast("decimal(12,2)")
                * F.lit(factor).cast("decimal(2,1)"),
                2,
            )
            .cast("double")
        )

    upd1 = o.filter((k % 17 == 0) & (k % 31 != 0)).select(
        k.alias("key"), bump("1.1").alias("price"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    upd2 = o.filter((k % 34 == 0) & (k % 31 != 0)).select(
        k.alias("key"), bump("1.2").alias("price"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = o.filter(k % 97 == 0).select(
        (k + 2_000_000).alias("key"), F.round(F.col("o_totalprice"), 2).alias("price"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    changes = deletes.unionByName(upd1).unionByName(upd2).unionByName(inserts)
    # TOTAL order: above sf0.1 the +2M insert keys can collide with
    # real snapshot keys, creating tied (key, seq) pairs whose
    # row_number pick would be engine-arbitrary — the op tiebreak keeps
    # last-writer-wins deterministic under collisions (caught by the
    # sf1 sweep; invisible at sf0.1 where max key < 2M)
    w = W.partitionBy("key").orderBy(F.desc("seq"), F.desc("op"))
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", "price", "op")
    )
    merged = o.select(k.alias("key"), F.col("o_totalprice").alias("base_price")).join(
        last, "key", "full_outer"
    )
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "key",
            F.when(F.col("op").isNotNull(), F.col("price"))
            .otherwise(F.col("base_price"))
            .alias("price"),
        )
    )


def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving fan-out: ``explode_outer`` keeps a row (with
    NULL) for docs whose filtered token array is EMPTY — the outer-join
    form of unnest, so downstream joins don't silently drop parents."""
    d = load(spark, sf_dir, "documents")
    longtoks = F.expr(
        r"filter(split(trim(lower(text)), '\\s+'), x -> length(x) > 6)"
    )
    return d.select("doc_id", F.explode_outer(longtoks).alias("long_tok"))


def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL: every non-aggregate select item becomes a group
    key (modern convenience syntax; also guards against the SQLite
    bare-column pitfall noted in SURVEY.md §2.B-15)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY ALL
        """
    )


def q_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table: per outer row, a dependent
    subquery (top-2 customers by balance per nation).  Catalyst
    decorrelates this into a ranked window — no nested-loop
    re-execution per row."""
    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) AS t
        """
    )


def q_string_funcs_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string bundle: padding, translate, reverse, repeat, and
    levenshtein (the fuzzy-match primitive for entity resolution)."""
    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        SELECT p_partkey,
               lpad(p_brand, 12, '.')            AS padded,
               rpad(p_brand, 12, '.')            AS rpadded,
               translate(p_type, 'AEIOU', 'aeiou') AS translated,
               reverse(p_brand)                  AS rev,
               repeat('ab', p_size % 3)          AS rep,
               levenshtein(p_brand, 'Brand#1')   AS lev
        FROM part
        """
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE = all 2^n grouping-set combinations in one shuffle."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_s,
               CAST(grouping(o_orderpriority) AS INT) AS g_p,
               COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """
    )


def q_sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named markers): the injection-safe
    form of templated queries — values bind as literals at analysis,
    never string-spliced.  The text2sql layer's generated SQL stays
    dynamic, but user-supplied constants (thresholds, ids) belong in
    ``args``."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM orders
        WHERE o_totalprice > :minprice AND o_orderstatus = :status
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"minprice": 150000.0, "status": "F"},
    )


def q_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VARIABLE): procedural
    scripting state without a client round trip — the thing dashboards
    and migration scripts use for shared thresholds."""
    register_views(spark, sf_dir, ("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE price_floor = 150000.0")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_above
        FROM orders WHERE o_totalprice > price_floor
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


def q_agg_percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates: interpolated (CONT) and exact-row
    (DISC) percentiles per group.  Integral cents make CONT's single
    ``lower + frac·(upper−lower)`` interpolation bit-exact in any
    engine; DISC picks an actual data value."""
    from pandasqlite_spark.operators.common import load_events

    load_events(spark, sf_dir).createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) AS p50,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY cents) AS p90,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS DOUBLE)
                 AS p50_disc
        FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
              FROM events_v)
        GROUP BY event_type ORDER BY event_type
        """
    )


def q_string_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: case-insensitive equality as a COLUMN
    property instead of wrapping every comparison in lower().  A
    mixed-case part-type column (upper for even keys, lower for odd)
    collapses under UTF8_LCASE but not under the default binary
    collation — both distinct counts emitted."""
    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE lower(p_type) END AS t
          FROM part)
        SELECT COUNT(DISTINCT t) AS n_binary,
               COUNT(DISTINCT COLLATE(t, 'UTF8_LCASE')) AS n_lcase
        FROM mixed
        """
    )


def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a TIMESTAMP ORDER BY with an interval bound:
    each event sees its user's trailing-1-hour activity (count + cents
    sum) — the time-decayed feature window every fraud/abuse model
    consumes.  Unlike a ROWS frame, peers are defined by event TIME, so
    burst traffic widens the frame's row count but never its state
    bound (O(events-in-1h) per partition cursor).  Cents stay integral
    for the cross-engine hash."""
    from pandasqlite_spark.operators.common import load_events

    load_events(spark, sf_dir).createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_1h,
               SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_1h
        FROM events_v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id
        """
    )


def q_window_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ORDER BY key: peers within a value
    distance (vs ROWS' positional distance).  State per partition is a
    sliding value-window — O(frame) not O(partition)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal,
               COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                              RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
                 AS n_within_100
        FROM customer
        """
    )


def q_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table joined against real data — the constant
    lookup-table idiom (broadcast by construction)."""
    register_views(spark, sf_dir, ("nation",))
    return spark.sql(
        """
        SELECT n.n_name, t.tier
        FROM nation n
        JOIN (VALUES (0, 'core'), (1, 'growth'), (2, 'frontier')) AS t(rk, tier)
          ON n.n_regionkey = t.rk
        """
    )


def q_sort_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST on an ascending sort (both engines default
    NULLS-first-on-ASC; the explicit override must agree too)."""
    register_views(spark, sf_dir, ("supplier",))
    return spark.sql(
        """
        SELECT s_suppkey, NULLIF(s_nationkey, 3) AS nk
        FROM supplier
        ORDER BY nk ASC NULLS LAST, s_suppkey
        """
    )


ORACLES: dict[str, str] = {
    "agg-grouping-sets": """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "try-arith": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice / NULLIF(l_quantity - l_quantity, 0) AS div0,
               TRY_CAST(l_returnflag AS BIGINT) AS bad_cast,
               l_extendedprice / NULLIF(l_quantity, 0) AS unit_price
        FROM lineitem
    """,
    "unpivot-stack": """
        SELECT p_partkey, 'retailprice' AS metric,
               CAST(p_retailprice AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    """,
    "higher-order-array": r"""
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> length(x) > 3)) AS INTEGER) AS n_long,
               CAST(list_aggregate(list_transform(
                        string_split_regex(trim(text), '\s+'),
                        x -> length(x)), 'sum') AS INTEGER) AS total_len
        FROM documents
    """,
    "map-funcs": """
        SELECT event_id, event_type AS etype, CAST(2 AS INTEGER) AS n_keys
        FROM events
    """,
    "struct-funcs": """
        SELECT c_custkey, c_name AS name,
               round(c_acctbal * 2, 2) AS double_bal
        FROM customer
    """,
    "null-safe-eq": """
        SELECT COUNT(*) AS n_null5 FROM customer
        WHERE NULLIF(c_nationkey, 5) IS NOT DISTINCT FROM NULL
    """,
    "generate-series": """
        SELECT CAST(month(d) AS INTEGER) AS m, COUNT(*) AS n_days
        FROM (SELECT unnest(generate_series(DATE '1995-01-01',
                                            DATE '1995-03-31',
                                            INTERVAL 1 DAY))::DATE AS d)
        GROUP BY month(d)
    """,
    "deterministic-sample": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
    "union-by-name": """
        SELECT n_nationkey, n_name FROM nation WHERE n_regionkey <= 1
        UNION ALL
        SELECT n_nationkey, n_name FROM nation WHERE n_regionkey > 1
    """,
    "json-variant-parse": """
        SELECT event_id,
               CAST(props->>'k' AS BIGINT) AS k_int,
               props->>'k' AS k_str,
               CAST(NULL AS BIGINT) AS absent
        FROM events
    """,
    "json-schema-parse": """
        SELECT event_id,
               CAST(props->>'k' AS BIGINT) AS k,
               -- null-pin: Spark's to_json OMITS null struct fields, so a
               -- null props/k serializes as {"event_id":N} — coalesce the
               -- ,"k":v segment away instead of nulling the whole string
               '{"event_id":' || event_id
                 || COALESCE(',"k":' || (props->>'k'), '') || '}' AS j
        FROM events
    """,
    # fixture-pinned constants: 8 lines, 4 corrupt (bad type / extra
    # tokens / missing tokens / broken quote), "5," is valid (5, NULL)
    "scan-csv-multiline": """
        SELECT * FROM (VALUES
          (CAST(1 AS INTEGER), CAST(5 AS INTEGER), CAST(1 AS INTEGER)),
          (2, 25, 2),
          (3, 31, 3),
          (4, 4, 1)) AS t(id, note_len, n_lines)
        ORDER BY id
    """,
    "scan-json-malformed": """
        SELECT CAST(6 AS BIGINT) AS n_permissive,
               CAST(3 AS BIGINT) AS n_corrupt,
               CAST(4 AS BIGINT) AS n_a_parsed,
               CAST(1 AS BIGINT) AS n_null_b_valid,
               CAST(3 AS BIGINT) AS n_dropmalformed,
               CAST(70 AS BIGINT) AS b_total
    """,
    "scan-csv-malformed": """
        SELECT CAST(8 AS BIGINT) AS n_permissive,
               CAST(4 AS BIGINT) AS n_corrupt,
               CAST(8 AS BIGINT) AS n_a_parsed,
               CAST(1 AS BIGINT) AS n_null_b_valid,
               CAST(4 AS BIGINT) AS n_dropmalformed,
               CAST(120 AS BIGINT) AS b_total
    """,
    # batch 1 (nationkey ≤ 11) predates the c_mktsegment column →
    # NULL after the mergeSchema union
    "scan-merge-schema": """
        SELECT c_custkey, c_name,
               CASE WHEN c_nationkey > 11 THEN c_mktsegment END AS c_mktsegment
        FROM customer
    """,
    "write-roundtrip-parquet": """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderpriority
    """,
    "agg-bool-bitwise": """
        SELECT o_orderpriority,
               bool_and(o_totalprice > 1000)   AS all_gt_1k,
               bool_or(o_totalprice > 100000)  AS any_gt_100k,
               bit_and(o_orderkey) AS band,
               bit_or(o_orderkey)  AS bor,
               bit_xor(o_orderkey) AS bxor
        FROM orders GROUP BY o_orderpriority
    """,
    "approx-distinct-ok": "SELECT TRUE AS ok",
    "explode-outer": r"""
        WITH lt AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> length(x) > 6) AS l
          FROM documents)
        SELECT doc_id, unnest(l) AS long_tok FROM lt WHERE len(l) > 0
        UNION ALL
        -- null-pin: explode_outer also keeps a (doc_id, NULL) row for a
        -- NULL array (null text), not just an empty one
        SELECT doc_id, NULL AS long_tok FROM lt WHERE len(l) = 0 OR l IS NULL
    """,
    "group-by-all": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY ALL
    """,
    "lateral-subquery": """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) AS t
    """,
    "string-funcs-extra": """
        SELECT p_partkey,
               lpad(p_brand, 12, '.')            AS padded,
               rpad(p_brand, 12, '.')            AS rpadded,
               translate(p_type, 'AEIOU', 'aeiou') AS translated,
               reverse(p_brand)                  AS rev,
               repeat('ab', p_size % 3)          AS rep,
               CAST(levenshtein(p_brand, 'Brand#1') AS INTEGER) AS lev
        FROM part
    """,
    "agg-cube": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
               COUNT(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "sql-named-parameters": """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM orders
        WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "sql-session-variables": """
        SELECT o_orderstatus, COUNT(*) AS n_above
        FROM orders WHERE o_totalprice > 150000.0
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "agg-percentile-cont-disc": """
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) AS p50,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY cents) AS p90,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS DOUBLE)
                 AS p50_disc
        FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
              FROM events)
        GROUP BY event_type ORDER BY event_type
    """,
    "string-collation": """
        WITH mixed AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE lower(p_type) END AS t
          FROM part)
        SELECT COUNT(DISTINCT t) AS n_binary,
               COUNT(DISTINCT lower(t)) AS n_lcase
        FROM mixed
    """,
    "window-range-interval": """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_1h,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
                 AS cents_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "window-range-between": """
        SELECT c_custkey, c_nationkey, c_acctbal,
               COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                              RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
                 AS n_within_100
        FROM customer
    """,
    "values-inline": """
        SELECT n.n_name, t.tier
        FROM nation n
        JOIN (VALUES (0, 'core'), (1, 'growth'), (2, 'frontier')) AS t(rk, tier)
          ON n.n_regionkey = t.rk
    """,
    "sort-nulls-last": """
        SELECT s_suppkey, NULLIF(s_nationkey, 3) AS nk
        FROM supplier
        ORDER BY nk ASC NULLS LAST, s_suppkey
    """,
    "catalog-insert-select": """
        SELECT n_regionkey, COUNT(*) AS n, min(n_name) AS first_name
        FROM nation GROUP BY n_regionkey
    """,
    "table-cdc-apply": """
        WITH o AS (SELECT o_orderkey AS key, o_totalprice FROM orders),
        changes AS (
          SELECT key, CAST(NULL AS DOUBLE) AS price, 'D' AS op, 1 AS seq
          FROM o WHERE key % 31 = 0
          UNION ALL
          SELECT key,
                 CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2))
                            * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE), 'U', 1
          FROM o WHERE key % 17 = 0 AND key % 31 <> 0
          UNION ALL
          SELECT key,
                 CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2))
                            * CAST(1.2 AS DECIMAL(2,1)), 2) AS DOUBLE), 'U', 2
          FROM o WHERE key % 34 = 0 AND key % 31 <> 0
          UNION ALL
          SELECT key + 2000000, ROUND(o_totalprice, 2), 'I', 1
          FROM o WHERE key % 97 = 0),
        last AS (
          SELECT key, price, op FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                         ORDER BY seq DESC, op DESC) rn
            FROM changes) WHERE rn = 1)
        SELECT COALESCE(o.key, last.key) AS key,
               CASE WHEN last.op IS NOT NULL THEN last.price
                    ELSE o.o_totalprice END AS price
        FROM o FULL OUTER JOIN last ON o.key = last.key
        WHERE last.op IS NULL OR last.op <> 'D'
    """,
    "upsert-emulation": """
        WITH updates AS (
          SELECT o_orderkey, o_totalprice + 1000 AS new_price FROM orders
          WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0')
        SELECT o.o_orderkey,
               coalesce(u.new_price, o.o_totalprice) AS price
        FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    """,
}

def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-resilient arithmetic: ``try_divide``/``try_cast`` return
    NULL where ANSI mode throws — the session-conf-INDEPENDENT way to
    keep SQLite's forgiving semantics under the driver's ANSI-on
    Spark 4 session (the round-1 ``cast-types`` failure generalized:
    never rely on ``spark.sql.ansi.enabled=false``)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_extendedprice, l_quantity - l_quantity)").alias("div0"),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("bad_cast"),
        F.expr("try_divide(l_extendedprice, l_quantity)").alias("unit_price"),
    )


QUERIES = {
    "agg-grouping-sets": q_agg_grouping_sets,
    "try-arith": q_try_arith,
    "unpivot-stack": q_unpivot_stack,
    "higher-order-array": q_higher_order_array,
    "map-funcs": q_map_funcs,
    "struct-funcs": q_struct_funcs,
    "null-safe-eq": q_null_safe_eq,
    "generate-series": q_generate_series,
    "deterministic-sample": q_deterministic_sample,
    "union-by-name": q_union_by_name,
    "write-roundtrip-parquet": q_write_roundtrip_parquet,
    "scan-merge-schema": q_scan_merge_schema,
    "json-schema-parse": q_json_schema_parse,
    "json-variant-parse": q_json_variant,
    "scan-csv-malformed": q_scan_csv_malformed,
    "scan-json-malformed": q_scan_json_malformed,
    "scan-csv-multiline": q_scan_csv_multiline,
    "agg-bool-bitwise": q_agg_bool_bitwise,
    "approx-distinct-ok": q_approx_distinct_ok,
    "explode-outer": q_explode_outer,
    "group-by-all": q_group_by_all,
    "lateral-subquery": q_lateral_subquery,
    "string-funcs-extra": q_string_funcs_extra,
    "agg-cube": q_agg_cube,
    "window-range-between": q_window_range_between,
    "window-range-interval": q_window_range_interval,
    "sql-named-parameters": q_sql_named_parameters,
    "sql-session-variables": q_sql_session_variables,
    "agg-percentile-cont-disc": q_agg_percentile_cont_disc,
    "string-collation": q_string_collation,
    "values-inline": q_values_inline,
    "sort-nulls-last": q_sort_nulls_last,
    "catalog-insert-select": q_catalog_insert_select,
    "upsert-emulation": q_upsert_emulation,
    "table-cdc-apply": q_table_cdc_apply,
}


def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clause — per-group conditional aggregation
    without CASE-wrapping every argument (the readable form of the
    pivot-conditional-agg pattern); Spark and DuckDB both execute it as
    the same partial-aggregated conditional counts."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the linear dataflow form of SQL
    — each stage reads top-to-bottom like a DataFrame chain, which is
    how generated/LLM SQL avoids deeply nested subqueries.  Catalyst
    plans it identically to the nested form (same partial-agg +
    exchange), so the oracle is the plain-SQL equivalent."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> EXTEND year(o_orderdate) AS yr
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           GROUP BY yr
        |> ORDER BY yr
        """
    )


def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT-list alias is
    visible to LATER expressions in the same SELECT — kills the
    wrap-it-in-a-subquery boilerplate for derived-from-derived columns.
    The oracle re-expands the aliases (semantics identical)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS net,
               net / SUM(l_quantity) AS net_per_unit,
               ROUND(net_per_unit * 100, 4) AS net_per_unit_cents
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY net DESC, l_orderkey
        LIMIT 20
        """
    )


QUERIES["agg-filter-clause"] = q_agg_filter_clause
QUERIES["sql-pipe-syntax"] = q_sql_pipe_syntax
QUERIES["sql-lateral-alias"] = q_sql_lateral_alias

ORACLES["agg-filter-clause"] = """
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
"""

ORACLES["sql-pipe-syntax"] = """
    SELECT year(o_orderdate) AS yr, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY 1 ORDER BY yr
"""

ORACLES["sql-lateral-alias"] = """
    WITH g AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS net,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               / SUM(l_quantity) AS net_per_unit
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey, net, net_per_unit,
           ROUND(net_per_unit * 100, 4) AS net_per_unit_cents
    FROM g ORDER BY net DESC, l_orderkey LIMIT 20
"""


def q_scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-CSV source discipline: Spark reads ``.csv.gz``
    transparently by extension, but gzip is NOT splittable — each
    gzipped file is ONE input partition no matter its size, so a 100 TB
    landing zone must arrive as many medium .gz files (or be rewritten
    to a splittable codec) or the whole read serializes onto a handful
    of tasks.  The fixture round-trips the nation table through a real
    gzip member; the oracle aggregates the same rows from parquet, so
    the key proves decompression is lossless, not merely runnable."""
    import csv as _csv
    import gzip as _gzip
    import io as _io

    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    base = scratch_dir("csv_gz")
    path = os.path.join(base, "nation.csv.gz")
    buf = _io.StringIO()
    w = _csv.writer(buf)
    w.writerow(["n_nationkey", "n_name", "n_regionkey"])
    for r in rows:
        w.writerow([r.n_nationkey, r.n_name, r.n_regionkey])
    with _gzip.open(path, "wt", newline="") as f:
        f.write(buf.getvalue())
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .csv(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


QUERIES["scan-csv-gzip"] = q_scan_csv_gzip

ORACLES["scan-csv-gzip"] = """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""
