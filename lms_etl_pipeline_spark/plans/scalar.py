"""Scalar-function surface: string, date/time, math, array, map and JSON.

All expressions are built-in ``pyspark.sql.functions`` — JVM-side, inside
whole-stage codegen, zero Python in the hot path (SURVEY.md §2.12 "scalar
fns").  Each query projects deterministic scalars so the DuckDB oracle can
hash-compare values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT c_custkey,
           LENGTH(c_name) AS name_len,
           UPPER(c_mktsegment) AS seg_upper,
           LOWER(c_name) AS name_lower,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           CONCAT_WS('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits,
           REPLACE(c_name, '#', '_') AS name_underscored,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           TRIM(CONCAT('  ', c_mktsegment, '  ')) AS seg_trimmed,
           REVERSE(c_mktsegment) AS seg_reversed
    FROM customer
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar battery: length/case/substr/concat/regexp/replace/pad."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.length("c_name").alias("name_len"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("_")).alias("name_underscored"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias("seg_trimmed"),
        F.reverse("c_mktsegment").alias("seg_reversed"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
           CAST(DAY(o_orderdate) AS INTEGER) AS order_day,
           CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch0,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(CASE WHEN EPOCH_US(o_orderdate) >= 0
                     THEN EPOCH_US(o_orderdate) // 1000000
                     ELSE -((-EPOCH_US(o_orderdate) + 999999) // 1000000)
                END AS BIGINT) AS unix_ts
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar battery (UTC session TZ; SURVEY §1.2 T5/T7 posture).

    unix_ts: Spark's ``unix_timestamp`` FLOORS to whole seconds; DuckDB's
    float ``EPOCH()`` under ``CAST(... AS BIGINT)`` ROUNDS, so a
    .999999-microsecond timestamp diverges by one second (fuzz seed 20,
    the sub-day knife-edge axis: 23:59:59.999999 → 999302399 vs
    999302400).  The oracle therefore floors in exact integer microseconds
    — and via a SIGN-SPLIT integer floor rather than
    bare ``//``, because DuckDB ``//`` truncates toward zero (-7//2 = -3)
    while Spark floors, so a pre-1970 instant would diverge by one second
    the moment a fuzz axis crosses the epoch.  The oracle is now
    domain-independent instead of leaning on the post-1970 fixture
    declaration."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch0"
        ),
        F.last_day("o_orderdate").alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("unix_ts"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
           SQRT(l_extendedprice) AS price_sqrt,
           CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) AS qty_sq,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           GREATEST(l_tax, l_discount) AS max_rate,
           LEAST(l_tax, l_discount) AS min_rate,
           CAST(l_quantity AS BIGINT) % 5 AS qty_mod5
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar battery.  sqrt is IEEE-correctly-rounded (bit-identical
    across engines); x*x replaces pow(x,2) to avoid libm divergence."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k_floor"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil7"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        (F.col("l_quantity").cast("double") * F.col("l_quantity").cast("double")).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod5"),
    )


@query(
    "scalar_array_funcs",
    oracle=f"""
    SELECT doc_id,
           LEN(toks) AS n_toks,
           toks[1] AS first_tok,
           toks[LEN(toks)] AS last_tok,
           LIST_CONTAINS(toks, 'the') AS has_the,
           COALESCE(ARRAY_TO_STRING(LIST_SLICE(toks, 1, 3), '_'), '') AS first3,
           LEN(LIST_DISTINCT(toks)) AS n_distinct,
           LIST_SORT(LIST_DISTINCT(toks))[1] AS min_tok
    FROM (
      SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents
    )
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar battery over tokenized documents: size/element_at/
    contains/slice/distinct/sort — all native array expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    # try_element_at + a >=1 index guard: a zero-token document (empty or
    # whitespace-only text) must yield NULL heads/tails like DuckDB's
    # 1-based list indexing, not an ANSI abort; the oracle's first3
    # COALESCEs ARRAY_TO_STRING([], '_') (NULL in DuckDB) to Spark's
    # concat_ws '' (hostile-text fixture sweep).
    return d.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.try_element_at("toks", F.lit(1)).alias("first_tok"),
        F.try_element_at(
            "toks", F.greatest(F.size("toks"), F.lit(1))
        ).alias("last_tok"),
        F.array_contains("toks", "the").alias("has_the"),
        F.concat_ws("_", F.slice("toks", 1, 3)).alias("first3"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.try_element_at(
            F.array_sort(F.array_distinct("toks")), F.lit(1)
        ).alias("min_tok"),
    )


@query(
    "scalar_json_funcs",
    oracle="""
    SELECT event_id,
           JSON_EXTRACT_STRING(props, '$.k') AS k_str,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.missing') AS BIGINT) AS missing_int
    FROM events
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over ``events.props`` (SURVEY §2.12 JSON row).

    ``get_json_object`` evaluates JVM-side per row; for repeated extraction
    of many keys prefer one ``from_json`` with an explicit schema (see
    ``etl_flatten_events_props``)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_int"),
        F.get_json_object("props", "$.missing").try_cast("bigint").alias("missing_int"),
    )


@query(
    "scalar_map_funcs",
    oracle="""
    SELECT event_id,
           2 AS map_size,
           event_type AS type_val,
           CAST(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS VARCHAR) AS k_val
    FROM events
    WHERE event_id % 10 = 0
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column exercised end-to-end: build MapType, then read it
    back with element_at/map_keys.  (Oracle checks the extracted scalars —
    the map itself is engine-internal representation.)"""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("k"),
        F.get_json_object("props", "$.k").try_cast("bigint").cast("string"),
    )
    return e.select("event_id", m.alias("m")).select(
        "event_id",
        F.size("m").alias("map_size"),
        F.element_at("m", "type").alias("type_val"),
        F.element_at("m", "k").alias("k_val"),
    )


@query(
    "histogram_width_bucket",
    oracle="""
    -- width_bucket(v, 0, 600000, 12) semantics spelled out (no native fn in DuckDB):
    -- v < min -> 0, v >= max -> n+1, else 1 + floor(v / (span/n))
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE 1 + CAST(FLOOR(o_totalprice / 50000) AS BIGINT) END AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the single-pass profiling
    primitive (12 buckets over the price domain)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', '', 'g'),
                               '\s+', ' ', 'g')) AS norm_text,
           MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\s]', '', 'g'),
                                   '\s+', ' ', 'g'))) AS norm_md5
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization for corpus cleaning: lowercase, strip
    non-alphanumerics, collapse whitespace — the standard pre-dedup
    normalizer, as three codegen'd regexp passes."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return d.select("doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_md5"))


@query(
    "case_when_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS band_total
    FROM orders
    GROUP BY 1
    """,
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregation (classic banding)."""
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
    )
    return (
        o.groupBy(band.alias("price_band"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("DECIMAL(18,4)")).cast("double").alias("band_total"),
        )
    )


@query(
    "scalar_higher_order_funcs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents
    )
    SELECT doc_id,
           LEN(LIST_FILTER(toks, x -> LENGTH(x) > 3)) AS n_long,
           LEN(LIST_FILTER(toks, x -> LENGTH(x) > 8)) > 0 AS has_verylong,
           LEN(LIST_FILTER(toks, x -> LENGTH(x) >= 20)) = 0 AS all_short,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0)
                AS BIGINT) AS total_chars,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(toks) + 1),
                i -> i * LENGTH(toks[i]))), 0) AS BIGINT) AS pos_weighted_chars
    FROM t
    """,
)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — filter / exists / forall / aggregate /
    zip_with — as one codegen'd projection (exact integer arithmetic, so
    the oracle twin built from LIST_FILTER/LIST_TRANSFORM/LIST_SUM hashes
    identically).  ``pos_weighted_chars`` exercises zip_with against a
    generated index sequence, the canonical positional-fold shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    d = d.select("doc_id", toks.alias("_toks"))
    lens = F.transform("_toks", lambda x: F.length(x))
    zero = F.lit(0).cast("bigint")
    return d.select(
        "doc_id",
        F.size(F.filter("_toks", lambda x: F.length(x) > 3)).cast("bigint").alias("n_long"),
        F.exists("_toks", lambda x: F.length(x) > 8).alias("has_verylong"),
        F.forall("_toks", lambda x: F.length(x) < 20).alias("all_short"),
        F.aggregate(lens, zero, lambda acc, x: acc + x).alias("total_chars"),
        # guard the empty case: sequence(1, 0) is Spark's DESCENDING
        # [1, 0], which zip_with NULL-pads against the empty lens array —
        # a zero-token doc weighs 0, like the oracle's COALESCE(SUM([]),0)
        # (hostile-text fixture sweep)
        F.when(
            F.size("_toks") > 0,
            F.aggregate(
                F.zip_with(
                    lens,
                    F.sequence(F.lit(1), F.size("_toks")),
                    lambda l, i: l * i,
                ),
                zero,
                lambda acc, x: acc + x,
            ),
        )
        .otherwise(zero)
        .alias("pos_weighted_chars"),
    )


@query(
    "variant_semi_structured",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           MIN(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS min_k,
           MAX(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def variant_semi_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics on the VARIANT type (Spark 4): parse the
    JSON payload ONCE into Spark's binary variant encoding, then extract
    typed paths with ``variant_get`` — the engine's answer to schemaless
    columns at scale (binary-encoded traversal + shredding-friendly
    storage, vs per-extraction JSON string re-parsing with
    ``get_json_object``, or rigid ``from_json`` schemas).  The aggregate
    over the extracted field proves typed extraction end-to-end; the
    oracle reads the same numbers with DuckDB's JSON functions."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )
