"""The reference pipeline end-to-end, Spark-first (SURVEY.md §2.13).

Two entry points mirroring the reference's two Lambda handlers:

- ``run_extract``  <- ``lms_to_s3_lambda.lambda_handler``
  (`/root/reference/src/lms_to_s3_lambda.py:192-225`):
  REST scan with pushed filter -> drop pagination meta -> flatten ->
  bulk rename -> pack custom_fields -> CSV sink.  ONE lazy DataFrame plan
  over an Arrow-built frame plus a sink action; no Python worker task runs.
- ``run_load``     <- ``s3_to_rds_lambda.lambda_handler``
  (`/root/reference/src/s3_to_rds_lambda.py:132-164`):
  CSV scan (explicit schema) -> target-schema alignment (try_cast, T1-T6)
  -> format-strict datetime parse (T7) -> keyed JDBC upsert (S7).  A
  snapshot within ``session.LOCAL_COLLECT_BUDGET_ROWS`` is upserted from
  the driver in one transaction, as the reference does; a larger one per
  executor partition.

Both are wrapped in the error channel (S8): any failure publishes and
re-raises.  The streaming twin of ``run_load`` is
``streaming.file_stream + run_available_now`` with the same sink —
incremental file discovery replacing the reference's S3 event trigger.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lms_etl_pipeline_spark import etl
from lms_etl_pipeline_spark.sinks import error_channel
from lms_etl_pipeline_spark.sinks.jdbc_upsert import upsert_via_foreach_partition
from lms_etl_pipeline_spark.sources.csv_io import read_csv, write_csv
from lms_etl_pipeline_spark.sources.rest import RestSource

#: datetime columns the reference parses format-strictly (s3_to_rds_lambda.py:148)
DATETIME_COLUMNS: tuple[str, ...] = (
    "date_hired",
    "date_terminated",
    "date_edited",
    "date_added",
    "last_login_date",
)


def extract_transform(users: DataFrame, rename_map: dict[str, str] | None = None) -> DataFrame:
    """The extract stage's transform chain as one lazy plan:
    flatten (O3) -> rename (O4) -> pack customFields.* (O5+O6)."""
    flat = etl.flatten_struct(users)
    renamed = etl.rename_columns(flat, rename_map)
    return etl.pack_custom_fields(renamed, prefix="customFields.")


def run_extract(
    spark: SparkSession,
    source: RestSource,
    schema: T.StructType,
    out_path: str,
    department_id: str | None = None,
    rename_map: dict[str, str] | None = None,
    publisher: error_channel.Publisher = error_channel.log_publisher,
) -> None:
    """REST -> transform -> CSV snapshot (the reference's extract handler).

    The department filter ships to the source as the ``_filter`` param
    (pushdown by transport, reference O1 — with the value actually
    interpolated, unlike the reference's literal-string bug)."""
    with error_channel.pipeline_guard("extract", publisher):
        filters = {"departmentId": department_id} if department_id else None
        users = source.read_table(spark, "list_users", schema, filters=filters)
        out = extract_transform(users, rename_map)
        # single_file mirrors the reference's one-object snapshot layout
        write_csv(out, out_path, mode="overwrite", single_file=True)


def run_load(
    spark: SparkSession,
    in_path: str,
    csv_schema: T.StructType,
    target_schema: T.StructType,
    connection_factory: Callable[[], Any],
    table: str,
    key_cols: list[str],
    datetime_cols: tuple[str, ...] = DATETIME_COLUMNS,
    publisher: error_channel.Publisher = error_channel.log_publisher,
) -> None:
    """CSV -> align -> parse datetimes -> keyed upsert (the load handler).

    ``target_schema`` stands in for the reference's live-catalog
    introspection (S6) — production can read it via
    ``spark.read.jdbc(...).schema`` and pass it straight through."""
    with error_channel.pipeline_guard("load", publisher):
        df = read_csv(spark, in_path, csv_schema)
        aligned = etl.align_to_schema(df, target_schema, strict_strings=True)
        present = [c for c in datetime_cols if c in aligned.columns]
        parsed = etl.parse_datetime_columns(aligned, list(present))
        upsert_via_foreach_partition(parsed, connection_factory, table, key_cols)
