"""Data-governance / integrity plans.

Four engine-level ETL-governance operators a production warehouse runs on
every load, which the reference pipeline's single-table upsert
(/root/reference/src/s3_to_rds_lambda.py — one ON CONFLICT statement, no
integrity checks) has no counterpart for:

- **FK integrity audit** (``fk_integrity_audit``) — orphan counts for every
  declared foreign-key relationship in one report (the referential-
  integrity DQ gate);
- **PK uniqueness audit** (``pk_uniqueness_audit``) — duplicate-key
  violations per declared primary key (the upsert precondition the
  reference silently assumes);
- **CDC apply** (``cdc_apply_changelog``) — fold an ordered change log
  (upserts + delete tombstones) into final table state via
  latest-per-key-then-filter (the Debezium/Delta MERGE shape);
- **GDPR erasure cascade** (``gdpr_erasure_cascade``) — for a deletion
  cohort, the per-table row counts an erasure request must remove,
  following the FK graph (the right-to-be-forgotten impact report).

Determinism: every output is exact integer counts or raw key values; no
floats anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

#: (child table, child FK col, parent table, parent PK col)
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@query(
    "fk_integrity_audit",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}.{ck}' AS fk, '{p}.{pk}' AS references_,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN pp.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
    FROM {c} LEFT JOIN (SELECT DISTINCT {pk} FROM {p}) pp
      ON {c}.{ck} = pp.{pk}"""
        for c, ck, p, pk in _FK_EDGES
    ),
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every declared FK relationship in
    the star schema, the child row count and the number of ORPHANS
    (child keys with no parent) — the one-page DQ report a warehouse load
    gates on before publishing (and before any join silently drops rows).

    Scale: each relationship is one left join against the DISTINCT parent
    keys (dimension-sized → broadcastable for all the dim edges; the
    orders edge co-partitions on the natural join key) + a conditional
    count.  |edges| is schema-bounded, so the report is fixed-size.
    """
    parts = []
    for c, ck, p, pk in _FK_EDGES:
        child = load_table(spark, sf_dir, c)
        parent = (
            load_table(spark, sf_dir, p)
            .select(F.col(pk).alias("__pk"))
            .distinct()
        )
        joined = child.join(
            parent, child[ck] == F.col("__pk"), "left"
        )
        parts.append(
            joined.agg(
                F.lit(f"{c}.{ck}").alias("fk"),
                F.lit(f"{p}.{pk}").alias("references_"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


#: (table, declared primary key)
_PK_DECLS = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


@query(
    "pk_uniqueness_audit",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{t}.{k}' AS pk, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {k}) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT {k}) AS BIGINT) AS n_dup_rows
    FROM {t}"""
        for t, k in _PK_DECLS
    ),
)
def pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: per declared key, total rows, distinct
    keys, and surplus duplicate rows — the precondition every upsert sink
    assumes (the reference's ON CONFLICT statement corrupts silently on a
    duplicate-key batch; this is the gate that catches it first,
    /root/reference/src/s3_to_rds_lambda.py:142-151).

    Scale: one map-side-combining count + exact distinct per table; at
    100 TB swap exact distinct for HLL per the profiler's documented
    pattern — duplicates then surface as |n_rows − hll| beyond error.
    """
    parts = []
    for t, k in _PK_DECLS:
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.agg(
                F.lit(f"{t}.{k}").alias("pk"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.countDistinct(k).cast("bigint").alias("n_keys"),
                (F.count("*") - F.countDistinct(k))
                .cast("bigint")
                .alias("n_dup_rows"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


@query(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS seq,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS payload
      FROM orders),
    latest AS (
      SELECT key, ts, seq, op, payload,
             ROW_NUMBER() OVER (PARTITION BY key
                                ORDER BY ts DESC, seq DESC) AS rk
      FROM log)
    SELECT key, op AS last_op, payload, ts AS updated_at
    FROM latest WHERE rk = 1 AND op != 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: fold an ordered change log of upserts and delete
    tombstones into final table state — keep each key's LATEST change
    (event time, then sequence number as the total-order tie-break), then
    drop keys whose latest change is a delete.  This is the
    Debezium-consumer / Delta-MERGE semantics as one window pass; the
    order stream plays the change log (status 'F' = tombstone), since the
    fixtures ship no separate CDC table.  The stateful complement of the
    reference's blind ON CONFLICT upsert: deletes propagate instead of
    resurrecting.

    Scale: ONE window partitioned by the CDC key — the same single
    shuffle a streaming ``foreachBatch`` upsert pays per micro-batch;
    at 100 TB the log is processed delta-sized against a keyed store
    exactly like ``incremental_corpus_dedup``'s posture.
    """
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    latest = log.select(
        "key", "ts", "seq", "op", "payload", F.row_number().over(w).alias("rk")
    )
    return (
        latest.filter((F.col("rk") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("op").alias("last_op"),
            "payload",
            F.col("ts").alias("updated_at"),
        )
    )


_ERASE_MOD = 97  # user_id % 97 == 0 plays the deletion cohort


@query(
    "gdpr_erasure_cascade",
    oracle=f"""
    WITH cohort AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {_ERASE_MOD} = 0),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events e
      JOIN cohort c ON e.user_id = c.user_id),
    ords AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
      JOIN cohort c ON o.o_custkey = c.user_id),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN cohort c ON o.o_custkey = c.user_id)
    SELECT 'events' AS table_name, 'user_id' AS via,
           (SELECT n FROM ev) AS n_rows_to_erase,
           CAST((SELECT COUNT(*) FROM cohort) AS BIGINT) AS cohort_size
    UNION ALL
    SELECT 'orders', 'o_custkey', (SELECT n FROM ords),
           CAST((SELECT COUNT(*) FROM cohort) AS BIGINT)
    UNION ALL
    SELECT 'lineitem', 'l_orderkey->o_custkey', (SELECT n FROM li),
           CAST((SELECT COUNT(*) FROM cohort) AS BIGINT)
    """,
)
def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact report: for a deletion cohort (here
    every user_id ≡ 0 mod {97} — the request batch), the number of rows
    each table must erase, following the FK graph one hop deep
    (events directly, orders by customer key, lineitem transitively
    through its order).  The planning half of GDPR/CCPA erasure — run
    BEFORE the destructive pass so legal sign-off sees exact scope.

    Scale: the cohort is a broadcast semi-join against every table (the
    big tables are scanned once each, never shuffled); the transitive hop
    reuses the orders join key.  Erasure itself is then the same
    anti-join executed as an overwrite — the report and the delete share
    one plan shape.
    """
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cohort = (
        e.filter(F.col("user_id") % _ERASE_MOD == 0)
        .select("user_id")
        .distinct()
    )
    csize = cohort.agg(F.count("*").cast("bigint").alias("cohort_size"))
    ev_n = (
        e.join(F.broadcast(cohort), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_rows_to_erase"))
    )
    ord_hit = o.join(
        F.broadcast(cohort), o.o_custkey == cohort.user_id
    )
    ord_n = ord_hit.agg(
        F.count("*").cast("bigint").alias("n_rows_to_erase")
    )
    li_n = (
        li.join(
            ord_hit.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .agg(F.count("*").cast("bigint").alias("n_rows_to_erase"))
    )
    def row(name, via, n_df):
        return (
            n_df.crossJoin(F.broadcast(csize))
            .select(
                F.lit(name).alias("table_name"),
                F.lit(via).alias("via"),
                "n_rows_to_erase",
                "cohort_size",
            )
        )
    return (
        row("events", "user_id", ev_n)
        .unionByName(row("orders", "o_custkey", ord_n))
        .unionByName(row("lineitem", "l_orderkey->o_custkey", li_n))
    )
