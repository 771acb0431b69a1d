"""Bucketed table layout: shuffle-free co-located joins & aggregations.

At 100 TB the dominant cost of a fact-fact join is the shuffle.  Bucketing
pre-partitions the data ON DISK by ``hash(join_key) % n_buckets`` at write
time, so every subsequent join or aggregation on that key reads
already-co-located buckets — Catalyst drops the Exchange entirely (pinned
by tests/test_bucketing.py).  The trade: one upfront shuffle at write time,
amortized over every downstream read — the right call for tables joined
repeatedly on a stable key (orders⋈lineitem on orderkey).

Bucketed output must go through the session catalog (``saveAsTable``) —
plain ``parquet(path)`` files carry no bucketing metadata.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog-managed parquet table bucketed (and
    optionally sorted) by ``bucket_cols``.

    ``sort_cols`` additionally sorts within each bucket file — which lets a
    downstream sort-merge join skip its sort too (read -> merge directly).

    ``mode="overwrite"`` also reclaims an ORPHANED warehouse location: a
    fresh session's in-memory catalog has no entry for a previous run's
    managed table, so Spark's own overwrite can't see it and refuses with
    LOCATION_ALREADY_EXISTS (every driver verify is a fresh session, so a
    driver-run bucketed join hits this).

    Reclaim guards: only a LOCAL warehouse
    (``file:`` / schemeless) is reclaimed — for hdfs:/s3a: warehouses the
    local path would name a different filesystem entirely, so those
    surface Spark's LOCATION_ALREADY_EXISTS instead of a silent wrong-disk
    rmtree — and only a directory that LOOKS like a previous run's managed
    parquet table (contains ``_SUCCESS`` or ``*.parquet``) is deleted, so
    an unrelated same-named directory (or a concurrent writer's partial
    output, which has neither marker yet... see note) is left for Spark to
    refuse loudly.  Concurrency note: two sessions bucketing the SAME
    table name concurrently are still last-writer-wins, exactly as with
    Spark's own ``overwrite`` — callers key table names by content
    (``_table_name`` in plans/relational_joins.py) to avoid sharing.
    """
    spark = df.sparkSession
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        uri = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        if uri.scheme in ("", "file"):
            loc = os.path.join(uri.path, table)
            if os.path.isdir(loc) and (
                os.path.exists(os.path.join(loc, "_SUCCESS"))
                or any(n.endswith(".parquet") for n in os.listdir(loc))
            ):
                shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a catalog table (bucket metadata flows into the plan)."""
    return spark.table(table)
