"""ETL-parity queries: the reference pipeline's transforms (flatten, rename,
pack, align, strict datetime parse) exercised over the fixtures, each with a
DuckDB oracle.

The reference pipeline (SURVEY.md §2.13) is ONE lazy plan per stage here:
``etl_users_pipeline_shape`` composes flatten -> rename -> pack -> align in
a single DataFrame chain the way the production entry point would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lms_etl_pipeline_spark import etl
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import scratch_dir
from lms_etl_pipeline_spark.sources.tables import load_table

_PROPS_SCHEMA = "k BIGINT"


@query(
    "etl_flatten_json_props",
    oracle="""
    SELECT event_id,
           event_type,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS "props.k"
    FROM events
    """,
)
def etl_flatten_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON doc -> typed struct -> flattened dotted columns (reference O3:
    ``pd.json_normalize``).  ``from_json`` with an explicit schema (never
    inferSchema in the hot path) then a recursive plan-time flatten."""
    e = load_table(spark, sf_dir, "events")
    nested = e.select(
        "event_id", "event_type", F.from_json("props", _PROPS_SCHEMA).alias("props")
    )
    return etl.flatten_struct(nested)


@query(
    "etl_rename_bulk",
    oracle="""
    SELECT c_custkey AS customer_id,
           c_name AS customer_name,
           c_mktsegment AS market_segment,
           c_nationkey AS nation_id,
           c_acctbal AS account_balance
    FROM customer
    """,
)
def etl_rename_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk rename (reference O4, the 36-entry camelCase->snake map) as a
    single plan-time ``withColumnsRenamed`` — zero execution cost."""
    c = load_table(spark, sf_dir, "customer")
    return etl.rename_columns(
        c,
        {
            "c_custkey": "customer_id",
            "c_name": "customer_name",
            "c_mktsegment": "market_segment",
            "c_nationkey": "nation_id",
            "c_acctbal": "account_balance",
        },
    )


@query(
    "etl_pack_custom_fields",
    oracle="""
    -- null-field DROP parity with Spark's to_json (fuzz seed 0: a '{}'
    -- props row has no k, and NULL-propagating || turned the whole JSON
    -- NULL while to_json emitted the remaining fields): build each field
    -- conditionally and join the survivors.
    SELECT event_id,
           '{' || COALESCE(ARRAY_TO_STRING(LIST_FILTER([
             CASE WHEN event_type != 'error'
                  THEN '"et":"' || event_type || '"' END,
             CASE WHEN TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)
                       IS NOT NULL
                  THEN '"k":' || CAST(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k')
                                        AS BIGINT) AS VARCHAR) END
           ], x -> x IS NOT NULL), ','), '') || '}' AS custom_fields
    FROM events
    """,
)
def etl_pack_custom_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct packing with null-field drop (reference O5+O6: per-row
    ``dropna().to_dict()``) — ``to_json`` omits NULL fields by default,
    giving the same semantics as one codegen'd expression.  'error' events
    get a NULL ``et`` to exercise the drop path."""
    e = load_table(spark, sf_dir, "events")
    staged = e.select(
        "event_id",
        F.nullif("event_type", F.lit("error")).alias("customFields.et"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("customFields.k"),
    )
    return etl.pack_custom_fields(staged, prefix="customFields.")


@query(
    "etl_align_to_schema",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           TRY_CAST(event_type AS DOUBLE) AS event_type_as_num,
           COALESCE(NULLIF(event_type, 'error'), ' ') AS event_type_filled,
           CAST(user_id AS INTEGER) AS user_id,
           CAST(NULL AS VARCHAR) AS missing_col
    FROM events
    """,
)
def etl_align_to_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-target alignment (reference S6+T1–T6): try_cast coercion,
    NULL-on-bad-value, missing target columns filled with typed NULL,
    reference T3 ' '-fill reproduced via strict_strings."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("event_id"),
        F.col("event_type").alias("event_type_as_num"),
        F.nullif("event_type", F.lit("error")).alias("event_type_filled"),
        "user_id",
    )
    target = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type_as_num", T.DoubleType()),
            T.StructField("event_type_filled", T.StringType()),
            T.StructField("user_id", T.IntegerType()),
            T.StructField("missing_col", T.StringType()),
        ]
    )
    return etl.align_to_schema(e, target, strict_strings=True)


@query(
    "etl_parse_datetime_strict",
    oracle="""
    SELECT o_orderkey,
           TRY_STRPTIME(us_style, '%m-%d-%Y %H:%M:%S') AS parsed_us,
           TRY_STRPTIME(iso_style, '%m-%d-%Y %H:%M:%S') AS parsed_iso_as_us
    FROM (
      SELECT o_orderkey,
             STRFTIME(o_orderdate, '%m-%d-%Y %H:%M:%S') AS us_style,
             STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso_style
      FROM orders
    )
    """,
)
def etl_parse_datetime_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-strict datetime parse (reference T7): US-format strings parse,
    ISO strings coerce to NULL — documenting the reference's format-vs-
    docstring mismatch (s3_to_rds_lambda.py:116-130) as explicit behavior."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "MM-dd-yyyy HH:mm:ss").alias("parsed_us"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("parsed_iso_as_us"),
    )
    return etl.parse_datetime_columns(o, ["parsed_us", "parsed_iso_as_us"])


@query(
    "etl_users_pipeline_shape",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS record_id,
           TIME_BUCKET(INTERVAL '1 day', ts) AS event_day,
           '{' || COALESCE(ARRAY_TO_STRING(LIST_FILTER([
             CASE WHEN user_id IS NOT NULL
                  THEN '"uid":' || CAST(user_id AS VARCHAR) END,
             CASE WHEN TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)
                       IS NOT NULL
                  THEN '"k":' || CAST(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k')
                                        AS BIGINT) AS VARCHAR) END
           ], x -> x IS NOT NULL), ','), '') || '}' AS custom_fields
    FROM events
    WHERE event_type != 'error'
    """,
)
def etl_users_pipeline_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end in ONE lazy plan (SURVEY §2.13):
    source-pushed filter (O1) -> flatten (O3) -> rename (O4) -> pack
    (O5+O6) -> align (T1-T6) — Catalyst collapses the whole chain into a
    single stage over the scan."""
    e = load_table(spark, sf_dir, "events")
    staged = (
        e.filter(F.col("event_type") != "error")  # O1: pushed to the scan
        .select(
            "event_id",
            F.from_json("props", _PROPS_SCHEMA).alias("props"),
            "user_id",
            "ts",
        )
    )
    flat = etl.flatten_struct(staged)  # O3
    renamed = etl.rename_columns(flat, {"event_id": "record_id", "props.k": "k"})  # O4
    packed = renamed.select(
        "record_id",
        F.date_trunc("day", "ts").alias("event_day"),
        F.col("user_id").alias("customFields.uid"),
        F.col("k").alias("customFields.k"),
    )
    packed = etl.pack_custom_fields(packed, prefix="customFields.")  # O5+O6
    target = T.StructType(
        [
            T.StructField("record_id", T.LongType()),
            T.StructField("event_day", T.TimestampType()),
            T.StructField("custom_fields", T.StringType()),
        ]
    )
    return etl.align_to_schema(packed, target)  # T1-T6


@query(
    "csv_roundtrip_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan (reference S4/S5): write with header, read back with
    an explicit schema (no inferSchema) — proving the interchange hop is
    lossless for typed data."""
    from lms_etl_pipeline_spark.sources.csv_io import read_csv, write_csv

    n = load_table(spark, sf_dir, "nation")
    path = scratch_dir("nation_csv_")
    write_csv(n, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return read_csv(spark, path, schema)


@query(
    "orc_roundtrip_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
    """,
)
def orc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan: the engine's second columnar interchange format
    (built into Spark, no external package). The read-back is filtered and
    aggregated so the ORC reader's predicate pushdown and column pruning sit
    in the checked plan — proving the hop is lossless AND optimizer-visible,
    not just byte-preserving. Oracle runs on the parquet original: equality
    holds iff the ORC round trip changed nothing."""
    from lms_etl_pipeline_spark.functions.numeric import dec_sum

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir("orders_orc_")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dec_sum("o_totalprice", "sum_price"))
    )


@query(
    "jsonl_roundtrip_documents",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + scan — the LLM-corpus interchange hop, proven lossless.

    Documents go out as newline-delimited JSON (one task per output
    partition, line-splittable on read) and come back through the explicit-
    schema PERMISSIVE scan; the differential check pins that arbitrary
    corpus text (embedded quotes/newlines are JSON-escaped) survives the
    round trip byte-for-byte.
    """
    from lms_etl_pipeline_spark.sources.jsonl_io import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = scratch_dir("documents_jsonl_")
    write_jsonl(d, path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return read_jsonl(spark, path, schema)


@query(
    "etl_dq_violations",
    oracle="""
    SELECT 'null_custkey' AS rule, COUNT(*) AS n_violations
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'nonpositive_price', COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)
    UNION ALL
    SELECT 'dup_orderkey',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'bad_status', COUNT(*) FROM orders
    WHERE o_orderstatus NOT IN ('F', 'O', 'P')
    """,
)
def etl_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality gate: evaluate every rule in ONE
    conditional-aggregation scan plus one key-uniqueness aggregate — never
    a pass per rule (at 100 TB, N rules must not mean N scans).  Returns
    (rule, n_violations); a loader aborts or quarantines when any count is
    nonzero.  Mirrors the reference's implicit contract (unique
    ``lms_user_id``, typed columns) as explicit, testable rules.
    """
    o = load_table(spark, sf_dir, "orders")
    # coalesce each SUM to 0: over an EMPTY table SUM is NULL but the
    # oracle's COUNT(*) arms are 0 — a zero-row day must report zero
    # violations, not null ones (tests/test_empty_fixture.py)
    flat = o.agg(
        F.coalesce(
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("null_custkey"),
        F.coalesce(
            F.sum(F.when(~(F.col("o_totalprice") > 0), 1).otherwise(0)), F.lit(0)
        ).alias("nonpositive_price"),
        F.coalesce(
            F.sum(F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)),
            F.lit(0),
        ).alias("bad_status"),
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("dup_orderkey"))
    )
    long_form = flat.unpivot([], ["null_custkey", "nonpositive_price", "bad_status"], "rule", "n_violations")
    dup_form = dups.unpivot([], ["dup_orderkey"], "rule", "n_violations")
    return long_form.unionByName(dup_form).select(
        "rule", F.col("n_violations").cast("long").alias("n_violations")
    )


@query(
    "etl_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 != 0
    ),
    new_snap AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 11 != 0
    )
    SELECT COALESCE(o.key, n.key) AS key,
           CASE WHEN o.key IS NULL THEN 'added'
                WHEN n.key IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.key = n.key
    WHERE o.key IS NULL OR n.key IS NULL
       OR o.status != n.status OR o.price != n.price
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the change-data-capture companion to the reference's
    snapshot-overwrite + keyed-upsert design: given yesterday's and today's
    full snapshots, emit (key, added|removed|changed).  One full outer join
    on the key with a row-hash comparison; feed the result to the upsert
    sink to turn snapshot loads into minimal incremental writes.

    The two snapshots here are derived deterministically from ``orders``
    (drop key%10 from old, drop key%11 + mutate status of key%7 in new) so
    the differential check pins all three change classes.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    old_snap = o.filter(F.col("key") % 10 != 0)
    new_snap = o.filter(F.col("key") % 11 != 0).withColumn(
        "status", F.when(F.col("key") % 7 == 0, F.lit("X")).otherwise(F.col("status"))
    )
    joined = old_snap.alias("o").join(
        new_snap.alias("n"), F.col("o.key") == F.col("n.key"), "full_outer"
    )
    change = (
        F.when(F.col("o.key").isNull(), F.lit("added"))
        .when(F.col("n.key").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.filter(
            F.col("o.key").isNull()
            | F.col("n.key").isNull()
            | (F.col("o.status") != F.col("n.status"))
            | (F.col("o.price") != F.col("n.price"))
        )
        .select(F.coalesce(F.col("o.key"), F.col("n.key")).alias("key"), change.alias("change"))
    )


@query(
    "scd2_history_build",
    oracle="""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_history_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 history from a change log: per
    entity, each recorded change becomes a version row with a
    [valid_from, valid_to) interval (valid_to = next change's timestamp,
    NULL = current) — the warehouse-standard temporal table the reference's
    overwrite-style RDS loader (/root/reference/src/s3_to_rds_lambda.py
    ON CONFLICT upsert) discards history instead of building.  An as-of
    lookup is then a range probe on (user_id, valid_from, valid_to).

    Scale: one window partitioned by the entity key — shuffle on user_id,
    two window functions in a single pass, no self-join (the naive SCD2
    build joins each change to the next; lead() is that join for free).
    Determinism: (ts, event_id) is a unique order key."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
