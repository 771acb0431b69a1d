"""JDBC upsert sink (reference S7: ``upsert_dataframe_to_postgres``,
``/root/reference/src/s3_to_rds_lambda.py:69-85`` — ``INSERT ... ON CONFLICT
(key) DO UPDATE SET col = EXCLUDED.col`` over all rows in one transaction).

Spark has no built-in JDBC merge, so the engine ships two strategies; both
are idempotent by key (applying the same batch twice leaves the same table
state — the property that makes at-least-once triggering effectively-once,
SURVEY.md §2.11):

1. ``upsert_via_staging`` — the 100 TB path.  The DataFrame is written to a
   staging table with Spark's distributed JDBC writer (parallel, batched),
   then ONE set-based ``MERGE INTO`` runs inside the database.  The merge
   is a single transaction over indexed keys; total data movement is the
   same as a plain append, and the database does what databases are good at.
2. ``upsert_via_foreach_partition`` — the reference-shaped path: batched
   ``INSERT ... ON CONFLICT`` statements through ``executemany``, exactly
   the reference's statement.  A frame of at most
   ``session.LOCAL_COLLECT_BUDGET_ROWS`` rows is collected once as Arrow
   and written from the driver on ONE connection in ONE transaction, like
   the reference's handler.  A larger frame (or one with a column type the
   driver arm does not bind, such as arrays or structs) runs per partition
   instead: each executor partition opens its own DB-API connection and
   commits its own transaction (``df.foreachPartition``).  The connection
   factory is injected (psycopg2 in production, sqlite3 in tests) so the
   sink is testable without a Postgres server.

Retry semantics: either arm rolls back the transaction it was in when a
statement fails and raises.  Spark retries a failed partition task; a
driver-arm failure fails the call, and the caller (a streaming replay, a
re-run of the load) runs it again.  Either way the replayed ``ON
CONFLICT`` rows converge to the same table.  No cross-partition
transaction is attempted — global atomicity over budget comes from the
staging+MERGE strategy instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from itertools import islice
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

from lms_etl_pipeline_spark import session

#: column types the driver arm binds exactly as a ``Row`` would hand them
#: to the connection; a frame with any other type runs per partition.
DRIVER_BOUND_TYPES = (
    T.NumericType, T.StringType, T.BinaryType, T.BooleanType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _q(ident: str) -> str:
    """Quote an identifier (standard double quotes).  Spark's JDBC writer
    quotes the column names it creates, so the staging table's identifiers
    are case-sensitive — the merge must quote to match (Derby would
    otherwise fold ``s.name`` to ``S.NAME`` and miss)."""
    return '"' + ident.replace('"', '""') + '"'


def merge_sql(
    table: str, staging: str, key_cols: list[str], value_cols: list[str]
) -> str:
    """ANSI ``MERGE INTO`` from a staging table (Derby/Postgres 15+/most).
    A key-only table (no value columns) has nothing to update, so only its
    missing keys are inserted."""
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
    sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in value_cols)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if value_cols else ""
    cols = ", ".join(_q(c) for c in key_cols + value_cols)
    vals = ", ".join(f"s.{_q(c)}" for c in key_cols + value_cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON ({on}) "
        f"{matched}WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def on_conflict_sql(table: str, key_cols: list[str], value_cols: list[str]) -> str:
    """Postgres/SQLite ``INSERT ... ON CONFLICT`` with qmark placeholders —
    the reference's statement (s3_to_rds_lambda.py:74-79) parameterized.
    A key-only table (a link table such as enrollments) has nothing to
    update: a conflicting row is already there, so the statement does
    nothing."""
    cols = key_cols + value_cols
    placeholders = ", ".join("?" for _ in cols)
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in value_cols)
    action = f"DO UPDATE SET {sets}" if value_cols else "DO NOTHING"
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders}) "
        f"ON CONFLICT ({', '.join(key_cols)}) {action}"
    )


def upsert_via_staging(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    staging_table: str | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Distributed staging write + one driver-issued ``MERGE INTO``.

    The staging write uses Spark's JDBC writer (every partition streams its
    rows in parallel with JDBC batch inserts); the merge then runs as a
    single set-based statement in the target database.  This is the scale
    path: no per-row Python, no driver materialization, one transaction
    for the merge itself.
    """
    staging = staging_table or f"{table}_staging"
    value_cols = [c for c in df.columns if c not in key_cols]

    writer = df.write.mode("overwrite").format("jdbc").option("url", url).option(
        "dbtable", staging
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()

    # Driver-side merge through the JVM's DriverManager (same classpath the
    # JDBC writer used — no Python DB driver needed).  ``properties`` (the
    # standard carrier for user/password) must reach this connection too,
    # not just the staging write, or the merge fails against any
    # authenticated database.
    jvm = df.sparkSession._jvm
    jprops = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(merge_sql(table, staging, key_cols, value_cols))
        finally:
            stmt.close()
    finally:
        conn.close()


def _write_rows(
    connection_factory: Callable[[], Any], sql: str, rows: Iterable[tuple], batch_size: int
) -> None:
    """Run ``sql`` over ``rows`` in ``batch_size`` ``executemany`` chunks on
    one connection, in one transaction: commit at the end, roll back and
    re-raise on any failure."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        it = iter(rows)
        while batch := list(islice(it, batch_size)):
            cur.executemany(sql, batch)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def _bound_column(column: pa.Array, dtype: T.DataType) -> list:
    """One Arrow column as the Python values a ``Row`` carries.  Arrow
    hands a TIMESTAMP back tz-aware in UTC, a ``Row`` as a naive local
    datetime; bind the ``Row`` value, so both arms write the same text."""
    if isinstance(dtype, T.TimestampType):
        return [dtype.fromInternal(us) for us in column.cast(pa.int64()).to_pylist()]
    return column.to_pylist()


def _arrow_rows(
    frame: pa.Table, schema: T.StructType, cols: list[str], chunk: int
) -> Iterator[tuple]:
    """``frame``'s rows as bind tuples in ``cols`` order, converted
    ``chunk`` rows at a time, so only one chunk is ever Python objects."""
    for batch in frame.to_batches(max_chunksize=chunk):
        yield from zip(*(_bound_column(batch.column(c), schema[c].dataType) for c in cols))


def upsert_via_foreach_partition(
    df: DataFrame,
    connection_factory: Callable[[], Any],
    table: str,
    key_cols: list[str],
    batch_size: int = 1000,
) -> None:
    """Batched ``INSERT ... ON CONFLICT`` upsert.

    ``connection_factory`` must be a picklable zero-arg callable returning a
    DB-API connection (e.g. ``functools.partial(psycopg2.connect, dsn)`` or
    ``functools.partial(sqlite3.connect, path)``).  Batches of
    ``batch_size`` rows go through ``executemany``.

    In budget (at most ``session.LOCAL_COLLECT_BUDGET_ROWS`` rows, every
    column of a ``DRIVER_BOUND_TYPES`` type) the frame is collected once as
    Arrow and written on one driver connection in one transaction; no
    Python worker task runs.  The collect reads at most one row past the
    budget; that row is the over-budget signal.  Over budget, each
    partition runs one transaction on its own connection, and the frame is
    computed again for that pass.  Idempotent either way: replaying a
    frame or a partition converges to identical table state.
    """
    value_cols = [c for c in df.columns if c not in key_cols]
    cols = key_cols + value_cols
    sql = on_conflict_sql(table, key_cols, value_cols)

    if all(isinstance(f.dataType, DRIVER_BOUND_TYPES) for f in df.schema.fields):
        budget = session.LOCAL_COLLECT_BUDGET_ROWS
        frame = df.limit(budget + 1).toArrow()
        if frame.num_rows <= budget:
            rows = _arrow_rows(frame, df.schema, cols, batch_size)
            _write_rows(connection_factory, sql, rows, batch_size)
            return

    def write_partition(rows: Iterator[Row]) -> None:
        _write_rows(
            connection_factory, sql, (tuple(row[c] for c in cols) for row in rows), batch_size
        )

    df.foreachPartition(write_partition)


def ledgered_batch_sink(
    connection_factory: Callable[[], Any],
    table: str,
    key_cols: list[str],
    ledger_table: str = "__batch_ledger",
) -> Callable[[DataFrame, int], None]:
    """Idempotent ``foreachBatch`` sink: a keyed upsert plus a batch-id
    ledger that skips re-execution.

    Correctness comes from the upsert: the batch's rows land through
    ``upsert_via_foreach_partition`` (one driver transaction within the
    collect budget, one per partition above it), so applying a batch twice
    converges to the same rows.  The ledger is an optimization on top.
    After the upsert commits, the batch id is recorded in ``ledger_table``
    in a SEPARATE, later transaction; a batch id already in the ledger is
    skipped without touching the data.  If the sink fails between the two commits, the
    batch is not in the ledger, so its replay re-runs the upsert (which
    converges) and then records the id once.  The data and the ledger row
    are not atomic, so side effects beyond the keyed rows may repeat.

    Returns a ``(batch_df, batch_id) -> None`` callable for
    ``run_available_now`` / ``writeStream.foreachBatch``.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        con = connection_factory()
        try:
            cur = con.cursor()
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {_q(ledger_table)} (batch_id BIGINT PRIMARY KEY)"
            )
            con.commit()
            cur.execute(
                f"SELECT 1 FROM {_q(ledger_table)} WHERE batch_id = ?", (batch_id,)
            )
            if cur.fetchone() is not None:
                return  # replayed batch: already applied, skip all effects
        finally:
            con.close()

        upsert_via_foreach_partition(batch_df, connection_factory, table, key_cols)

        con = connection_factory()
        try:
            con.cursor().execute(
                f"INSERT INTO {_q(ledger_table)} (batch_id) VALUES (?)", (batch_id,)
            )
            con.commit()
        finally:
            con.close()

    return sink
