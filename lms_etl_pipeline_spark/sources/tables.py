"""Fixture-table catalog: parquet scans for the TPC-H-ish star schema.

Parquet is the engine's native batch format: self-describing schema (no
``inferSchema`` scans), column pruning and predicate pushdown reach the file
reader via Catalyst, and row-group statistics give free partition pruning at
100 TB. The equivalent of the reference's "logical name -> physical endpoint"
routing (``/root/reference/src/lms_to_s3_lambda.py:54-66``) is this module's
name -> path mapping plus ``spark.catalog`` temp views.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: no data moves until an action runs.

    The ``events`` fixture stores ``ts`` as parquet TIMESTAMP(NANOS). Readers
    surface that physical type differently across Spark versions, so we
    normalize every observed shape to a session-TZ ``timestamp`` (micros):

    - ``LongType`` — older readers with ``spark.sql.legacy.parquet.nanosAsLong``
      honor the legacy conf and hand us raw nanos; integer-div to micros.
    - ``TimestampNTZType`` — Spark 4.1+ reads TIMESTAMP(NANOS, isAdjustedToUTC
      =false) natively as NTZ (truncated to micros). The session TZ is pinned
      to UTC (session.py), so ``cast('timestamp')`` is value-preserving.

    Both are column-local codegen'd conversions (no shuffle, no Python), and
    downstream time arithmetic (``unix_micros`` etc.) sees one stable type.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver (and any embedding application) builds its OWN session;
    # engine conf must not be assumed.  UTC is load-bearing twice: the
    # NTZ->LTZ cast below is value-preserving only under UTC, and every
    # to_date/weekday derivation must agree with the DuckDB oracle (which
    # computes in UTC).  Runtime-set like nanosAsLong, so a plain
    # SparkSession gets identical semantics to session.get_spark().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    df = _normalize_ts(df)
    return df


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize a raw ``ts`` column (long nanos or NTZ) to ``timestamp``."""
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            # integer div (not /) keeps full precision above 2^53 ns
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # NTZ -> LTZ is value-preserving because the session TZ is UTC
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every fixture table present under ``sf_dir``.

    Presence is probed by attempting the (lazy, schema-only) parquet read —
    not ``os.path.exists`` — so any Hadoop-visible filesystem (s3a://, hdfs://)
    works, per the 100 TB posture.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        try:
            # route through load_table so per-table normalizations (events.ts
            # nanos -> microsecond timestamp) apply uniformly — SQL over
            # registered views must see the same schema the plan builders do
            out[name] = load_table(spark, sf_dir, name)
        except Exception:  # noqa: BLE001 - missing table is a supported layout
            continue
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view (for ``spark.sql`` plans)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
