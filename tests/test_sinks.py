"""Tests for the JDBC upsert sink (reference S7) and error channel (S8).

The key property is IDEMPOTENCE: applying the same batch twice leaves the
same table state (what turns at-least-once triggering into effectively-once,
SURVEY.md §2.11).  The DB-API path runs against sqlite (same ON CONFLICT
dialect family as Postgres); the staging+MERGE path runs against embedded
Derby through Spark's own JDBC writer — a real JDBC round trip.
"""

from __future__ import annotations

import sqlite3
from datetime import date, datetime
from decimal import Decimal
from functools import partial

import pytest

from lms_etl_pipeline_spark import session
from lms_etl_pipeline_spark.sinks import error_channel, jdbc_upsert


@pytest.fixture()
def people_df(spark):
    return spark.createDataFrame(
        [(1, "ann", 10.0), (2, "bob", 20.0)], "id BIGINT, name STRING, score DOUBLE"
    )


def _sqlite_state(path):
    con = sqlite3.connect(path)
    try:
        return sorted(con.execute("SELECT id, name, score FROM people").fetchall())
    finally:
        con.close()


class TestForeachPartitionUpsert:
    def _setup_db(self, path):
        con = sqlite3.connect(path)
        con.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT, score REAL)")
        con.commit()
        con.close()

    def test_insert_then_update_then_idempotent(self, spark, people_df, tmp_path):
        db = str(tmp_path / "t.db")
        self._setup_db(db)
        factory = partial(sqlite3.connect, db, timeout=30)
        # single partition: sqlite allows one writer at a time
        df1 = people_df.coalesce(1)
        jdbc_upsert.upsert_via_foreach_partition(df1, factory, "people", ["id"])
        assert _sqlite_state(db) == [(1, "ann", 10.0), (2, "bob", 20.0)]

        # conflicting batch updates in place, new key inserts
        df2 = spark.createDataFrame(
            [(2, "bob", 99.0), (3, "cat", 30.0)], "id BIGINT, name STRING, score DOUBLE"
        ).coalesce(1)
        jdbc_upsert.upsert_via_foreach_partition(df2, factory, "people", ["id"])
        expected = [(1, "ann", 10.0), (2, "bob", 99.0), (3, "cat", 30.0)]
        assert _sqlite_state(db) == expected

        # replay: identical state (idempotent under task retry)
        jdbc_upsert.upsert_via_foreach_partition(df2, factory, "people", ["id"])
        assert _sqlite_state(db) == expected

    def test_batching_splits_large_partitions(self, spark, tmp_path):
        db = str(tmp_path / "b.db")
        self._setup_db(db)
        df = spark.createDataFrame(
            [(i, f"p{i}", float(i)) for i in range(57)],
            "id BIGINT, name STRING, score DOUBLE",
        ).coalesce(1)
        jdbc_upsert.upsert_via_foreach_partition(
            df, partial(sqlite3.connect, db, timeout=30), "people", ["id"], batch_size=10
        )
        assert len(_sqlite_state(db)) == 57

    def test_key_only_table_upserts_idempotently(self, spark, tmp_path):
        """A link table has no value columns: the upsert must still be valid
        SQL, and a replay must leave the rows as they were."""
        db = str(tmp_path / "k.db")
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE enrollments (user_id INTEGER, course_id INTEGER,"
            " PRIMARY KEY (user_id, course_id))"
        )
        con.commit()
        con.close()
        df = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10)], "user_id BIGINT, course_id BIGINT"
        ).coalesce(1)
        factory = partial(sqlite3.connect, db, timeout=30)
        for _ in range(2):
            jdbc_upsert.upsert_via_foreach_partition(
                df, factory, "enrollments", ["user_id", "course_id"]
            )
        con = sqlite3.connect(db)
        try:
            rows = sorted(con.execute("SELECT user_id, course_id FROM enrollments"))
        finally:
            con.close()
        assert rows == [(1, 10), (1, 11), (2, 10)]


#: one value column per type the driver arm binds, each with a NULL
TYPED_VALUES = {
    "BIGINT": [-(2**63), 0, 2**62],
    "INT": [-(2**31), 7, 2**31 - 1],
    "DOUBLE": [-0.5, 1e-300, 2.5e300],
    "STRING": ["", "O'Brien", "\u00fcn\u00efc\u00f8de"],
    "BOOLEAN": [True, False, True],
    "DATE": [date(1969, 12, 31), date(2000, 2, 29), date(2038, 1, 19)],
    "TIMESTAMP": [
        datetime(1969, 12, 31, 23, 59, 59, 999999),
        datetime(2024, 3, 10, 2, 30),
        datetime(2038, 1, 19, 3, 14, 8, 1),
    ],
    "DECIMAL(12,3)": [Decimal("-1.500"), Decimal("0.000"), Decimal("123456789.125")],
    "BINARY": [bytearray(b""), bytearray(b"\x00\xff"), bytearray(b"abc")],
}


def _typed_upsert(spark, db, sql_type, values):
    """Upsert ``(id, v)`` rows of one value type into a fresh sqlite table
    with no column affinity, so each bound value is stored as it came."""
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE typed (id INTEGER PRIMARY KEY, v)")
    con.execute("INSERT INTO typed VALUES (1, 'stale')")
    con.commit()
    con.close()

    def factory():
        import decimal
        import sqlite3

        sqlite3.register_adapter(decimal.Decimal, str)  # as psycopg2 binds NUMERIC
        return sqlite3.connect(db, timeout=30)

    rows = list(enumerate(values + [None], start=1))
    df = spark.createDataFrame(rows, f"id BIGINT, v {sql_type}").coalesce(1)
    jdbc_upsert.upsert_via_foreach_partition(df, factory, "typed", ["id"])
    con = sqlite3.connect(db)
    try:
        return con.execute("SELECT id, v, typeof(v) FROM typed ORDER BY id").fetchall()
    finally:
        con.close()


class TestUpsertArms:
    """A frame within ``session.LOCAL_COLLECT_BUDGET_ROWS`` is written from
    the driver through Arrow; a larger one per partition through ``Row``s.
    Both must bind the same values."""

    @pytest.mark.parametrize("sql_type", list(TYPED_VALUES))
    def test_both_arms_write_the_same_rows(self, spark, tmp_path, monkeypatch, sql_type):
        values = TYPED_VALUES[sql_type]
        driver = _typed_upsert(spark, str(tmp_path / "driver.db"), sql_type, values)
        monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", 0)
        partitions = _typed_upsert(spark, str(tmp_path / "partitions.db"), sql_type, values)
        assert driver == partitions
        assert len(driver) == len(values) + 1 and driver[-1][1:] == (None, "null")

    def test_budget_picks_the_arm(self, spark, people_df, tmp_path, monkeypatch):
        db = str(tmp_path / "arm.db")
        factory = partial(sqlite3.connect, db, timeout=30)
        con = factory()
        con.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT, score REAL)")
        con.commit()
        con.close()
        df = people_df.coalesce(1)
        real = type(df).foreachPartition
        calls = []

        def counted(self, f):
            calls.append(f)
            return real(self, f)

        monkeypatch.setattr(type(df), "foreachPartition", counted)
        jdbc_upsert.upsert_via_foreach_partition(df, factory, "people", ["id"])
        assert calls == []
        assert _sqlite_state(db) == [(1, "ann", 10.0), (2, "bob", 20.0)]

        monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", 1)
        jdbc_upsert.upsert_via_foreach_partition(df, factory, "people", ["id"])
        assert len(calls) == 1
        assert _sqlite_state(db) == [(1, "ann", 10.0), (2, "bob", 20.0)]


class TestStagingMerge:
    def test_merge_into_derby(self, spark, people_df, tmp_path):
        url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
        # create the target table through the JVM (same classpath)
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        # quoted lowercase identifiers: Spark's JDBC writer quotes column
        # names, so the merge addresses them case-sensitively
        conn.createStatement().executeUpdate(
            'CREATE TABLE people ("id" BIGINT PRIMARY KEY, "name" VARCHAR(50), "score" DOUBLE)'
        )
        conn.close()

        jdbc_upsert.upsert_via_staging(people_df, url, "people", ["id"])
        df2 = spark.createDataFrame(
            [(2, "bob", 99.0), (3, "cat", 30.0)], "id BIGINT, name STRING, score DOUBLE"
        )
        jdbc_upsert.upsert_via_staging(df2, url, "people", ["id"])
        # replay the same batch: must converge, not duplicate
        jdbc_upsert.upsert_via_staging(df2, url, "people", ["id"])

        back = spark.read.format("jdbc").option("url", url).option("dbtable", "people").load()
        rows = sorted((r.id, r.name, r.score) for r in back.collect())
        assert rows == [(1, "ann", 10.0), (2, "bob", 99.0), (3, "cat", 30.0)]
        # S6: JDBC catalog introspection — schema comes back typed
        assert [f.name.lower() for f in back.schema.fields] == ["id", "name", "score"]

    def test_key_only_merge_into_derby(self, spark, tmp_path):
        """MERGE for a link table: no WHEN MATCHED clause to render, and a
        replayed batch inserts nothing new."""
        url = f"jdbc:derby:{tmp_path}/linkdb;create=true"
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)
        conn.createStatement().executeUpdate(
            'CREATE TABLE enrollments ("user_id" BIGINT NOT NULL,'
            ' "course_id" BIGINT NOT NULL, PRIMARY KEY ("user_id", "course_id"))'
        )
        conn.close()
        df = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10)], "user_id BIGINT, course_id BIGINT"
        )
        for _ in range(2):
            jdbc_upsert.upsert_via_staging(df, url, "enrollments", ["user_id", "course_id"])
        back = spark.read.format("jdbc").option("url", url).option(
            "dbtable", "enrollments"
        ).load()
        assert sorted((r.user_id, r.course_id) for r in back.collect()) == [
            (1, 10), (1, 11), (2, 10)
        ]


class TestErrorChannel:
    def test_guard_publishes_and_reraises(self):
        seen: list[tuple[str, str]] = []
        with pytest.raises(ValueError):
            with error_channel.pipeline_guard("extract", lambda s, m: seen.append((s, m))):
                raise ValueError("boom")
        assert len(seen) == 1
        assert "extract" in seen[0][0] and "boom" in seen[0][1]

    def test_guard_silent_on_success(self):
        seen: list = []
        with error_channel.pipeline_guard("load", lambda s, m: seen.append((s, m))):
            pass
        assert seen == []

    def test_sns_publisher_names_missing_dependency(self):
        try:
            import boto3  # noqa: F401

            pytest.skip("boto3 present; stub path not exercised")
        except ImportError:
            pass
        with pytest.raises(ImportError, match="boto3"):
            error_channel.sns_publisher("arn:aws:sns:::t")


class TestPartitionedJdbcRead:
    def test_partitioned_parallel_scan(self, spark, tmp_path):
        """Scale path for JDBC SOURCES: a partitioned read
        (partitionColumn/lowerBound/upperBound/numPartitions) splits the
        table into N independent range scans — the layout that lets a
        1000-executor cluster drain a warehouse table in parallel instead
        of through one connection.  Pinned: the scan really has N input
        partitions AND the union of the range slices is exactly the table
        (no dropped/duplicated boundary rows)."""
        url = f"jdbc:derby:{tmp_path}/pardb;create=true"
        src = spark.range(0, 1000).selectExpr(
            "id", "CAST(id % 7 AS DOUBLE) AS v"
        )
        src.write.format("jdbc").option("url", url).option(
            "dbtable", "facts"
        ).mode("overwrite").save()

        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "facts")
            .option("partitionColumn", "id")
            .option("lowerBound", "0")
            .option("upperBound", "1000")
            .option("numPartitions", "8")
            .load()
        )
        assert back.rdd.getNumPartitions() == 8
        assert back.count() == 1000
        # boundary-exactness: every id present exactly once
        from pyspark.sql import functions as F2

        agg = back.agg(
            F2.count("*").alias("n"),
            F2.countDistinct("id").alias("d"),
            F2.sum("id").alias("s"),
        ).collect()[0]
        assert (agg.n, agg.d, agg.s) == (1000, 1000, 499500)


def test_bucketed_join_has_no_shuffle_exchange(spark):
    """join_bucketed_colocated's plan pin: both sides read from bucketed
    tables, the forced SortMergeJoin subtree carries NO Exchange node
    (that is the entire point of paying the bucketBy at write time), and
    the rollup matches a plain-parquet recompute row-for-row."""
    from lms_etl_pipeline_spark.plans.relational_joins import (
        join_bucketed_colocated,
    )
    from lms_etl_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    df = join_bucketed_colocated(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    join_subtree = plan[plan.find("SortMergeJoin") :]
    assert "Exchange" not in join_subtree, (
        "bucketed join shuffled — co-location broke:\n" + join_subtree
    )
    # the bucketed round trip must not change one row vs plain parquet
    from pyspark.sql import functions as F

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    want = {
        (r.c_nationkey, r.n_orders, r.total_spend)
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).cast("double").alias("total_spend"),
        )
        .collect()
    }
    got = {(r.c_nationkey, r.n_orders, r.total_spend) for r in df.collect()}
    assert got == want
