"""Streaming-slice tests: file source + AvailableNow + foreachBatch upsert.

Verifies the reference-parity contract (SURVEY.md §2.11): incremental file
discovery (each run processes only files that arrived since the checkpoint)
feeding an idempotent keyed sink — at-least-once delivery, effectively-once
state.
"""

from __future__ import annotations

import sqlite3
from functools import partial

import pytest

from lms_etl_pipeline_spark import streaming
from lms_etl_pipeline_spark.sinks import jdbc_upsert

SCHEMA = "id BIGINT, name STRING, score DOUBLE"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_available_now_incremental_upsert(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    db = str(tmp_path / "s.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT, score REAL)")
    con.commit()
    con.close()
    factory = partial(sqlite3.connect, db, timeout=30)

    def sink(batch_df, batch_id):
        jdbc_upsert.upsert_via_foreach_partition(
            batch_df.coalesce(1), factory, "people", ["id"]
        )

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(SCHEMA)

    # run 1: two files land, both processed
    _write_batch(spark, landing, [(1, "ann", 10.0)])
    _write_batch(spark, landing, [(2, "bob", 20.0)])
    stream = streaming.file_stream(spark, landing, schema)
    assert stream.isStreaming
    streaming.run_available_now(stream, sink, ckpt)

    def state():
        c = sqlite3.connect(db)
        try:
            return sorted(c.execute("SELECT id, name, score FROM people").fetchall())
        finally:
            c.close()

    assert state() == [(1, "ann", 10.0), (2, "bob", 20.0)]

    # run 2: one NEW file (an update for id=2) — only it is processed;
    # id=1 is untouched (checkpoint-driven incremental discovery)
    _write_batch(spark, landing, [(2, "bob", 99.0)])
    streaming.run_available_now(
        streaming.file_stream(spark, landing, schema), sink, ckpt
    )
    assert state() == [(1, "ann", 10.0), (2, "bob", 99.0)]

    # run 3: nothing new — no change, no error
    streaming.run_available_now(
        streaming.file_stream(spark, landing, schema), sink, ckpt
    )
    assert state() == [(1, "ann", 10.0), (2, "bob", 99.0)]


def test_windowed_counts_streaming_plan(spark, tmp_path):
    """The windowed builders accept a streaming frame (watermark + window
    survive analysis) and produce correct results through foreachBatch."""
    landing = str(tmp_path / "events")
    spark.createDataFrame(
        [("2024-01-01 00:05:00", 1), ("2024-01-01 00:20:00", 1), ("2024-01-01 01:10:00", 2)],
        "ts_s STRING, user_id INT",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "user_id").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("ts TIMESTAMP, user_id INT")
    stream = streaming.file_stream(spark, landing, schema)
    windowed = streaming.windowed_counts(stream, window_len="1 hour")
    assert windowed.isStreaming

    got: list = []

    def collect_sink(batch_df, batch_id):
        got.extend((str(r.w_start), r.n_events) for r in batch_df.collect())

    streaming.run_available_now(windowed, collect_sink, str(tmp_path / "ck2"))
    assert sorted(got) == [("2024-01-01 00:00:00", 2), ("2024-01-01 01:00:00", 1)]


def test_sessionized_counts_streaming_plan(spark, tmp_path):
    landing = str(tmp_path / "sess")
    rows = [
        ("2024-01-01 00:00:00", 1),
        ("2024-01-01 00:05:00", 1),  # same session (gap < 10 min)
        ("2024-01-01 01:00:00", 1),  # new session
    ]
    spark.createDataFrame(rows, "ts_s STRING, user_id INT").selectExpr(
        "CAST(ts_s AS TIMESTAMP) AS ts", "user_id"
    ).coalesce(1).write.mode("append").parquet(landing)

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("ts TIMESTAMP, user_id INT")
    sessions = streaming.sessionized_counts(streaming.file_stream(spark, landing, schema))
    got: list = []

    def sink(batch_df, batch_id):
        got.extend((r.user_id, r.n_events) for r in batch_df.collect())

    # session windows don't support update mode (state merges can split
    # emitted rows); complete mode snapshots the full session state
    streaming.run_available_now(sessions, sink, str(tmp_path / "ck3"), output_mode="complete")
    assert sorted(got) == [(1, 1), (1, 2)]


@pytest.mark.slow  # >14 s: gated from the default run
def test_watermark_drops_late_data_across_runs(spark, tmp_path):
    """Late-data semantics: a row older than the checkpointed watermark is
    dropped from windowed state; fresh rows aggregate normally."""
    from pyspark.sql.types import StructType

    landing = str(tmp_path / "late")
    ckpt = str(tmp_path / "ckw")
    schema = StructType.fromDDL("ts TIMESTAMP, user_id INT")

    def land(ts_strs):
        spark.createDataFrame([(t, 1) for t in ts_strs], "ts_s STRING, user_id INT").selectExpr(
            "CAST(ts_s AS TIMESTAMP) AS ts", "user_id"
        ).coalesce(1).write.mode("append").parquet(landing)

    got: list = []

    def run():
        win = streaming.windowed_counts(
            streaming.file_stream(spark, landing, schema),
            window_len="1 hour",
            watermark="2 hours",
        )
        streaming.run_available_now(
            win, lambda df, _: got.extend((str(r.w_start), r.n_events) for r in df.collect()), ckpt
        )

    # run 1: events up to 10:30 => watermark advances to ~08:30
    land(["2024-01-01 10:00:00", "2024-01-01 10:30:00"])
    run()
    assert ("2024-01-01 10:00:00", 2) in got

    # run 2: one hopelessly late row (05:00 < watermark) + one fresh row
    got.clear()
    land(["2024-01-01 05:00:00", "2024-01-01 11:00:00"])
    run()
    windows = dict(got)
    assert "2024-01-01 11:00:00" in windows  # fresh row aggregated
    assert "2024-01-01 05:00:00" not in windows  # late row dropped by watermark


def test_rate_source_runtime_smoke(spark, tmp_path):
    """A built-in unbounded source (rate) drives the same windowed-count
    transform the file-source tests use: proves the streaming runtime works
    against a live source, not only replayed files."""
    import time

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .option("numPartitions", "2")
        .load()
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT COALESCE(SUM(n), 0) AS t FROM rate_smoke").collect()[0].t
            if rows > 0:
                break
            time.sleep(0.5)
        assert rows > 0, "rate source produced no rows within 30s"
    finally:
        q.stop()


@pytest.mark.slow  # >14 s: gated from the default run
def test_stream_stream_join_within_bound(spark, tmp_path):
    """Watermarked stream-stream join: clicks attribute to the impression
    they follow within the bound; outside-bound clicks drop."""
    from pyspark.sql.types import StructType

    imp_path, clk_path = str(tmp_path / "imp"), str(tmp_path / "clk")
    schema_ddl = "ad_id INT, ts TIMESTAMP"

    def land(path, rows):
        spark.createDataFrame(rows, "ad_id INT, ts_s STRING").selectExpr(
            "ad_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(path)

    land(imp_path, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")])
    land(
        clk_path,
        [
            (1, "2024-01-01 10:30:00"),  # within 1 hour -> joins
            (2, "2024-01-01 12:30:00"),  # 2.5h later -> outside bound
        ],
    )
    schema = StructType.fromDDL(schema_ddl)
    joined = streaming.stream_stream_join(
        streaming.file_stream(spark, imp_path, schema),
        streaming.file_stream(spark, clk_path, schema),
        key_col="ad_id",
        within="1 hour",
    )
    assert joined.isStreaming

    got: list = []
    streaming.run_available_now(
        joined,
        lambda df, _: got.extend((r.ad_id, str(r.ts), str(r.ts_r)) for r in df.collect()),
        str(tmp_path / "ckj"),
        output_mode="append",
    )
    assert got == [(1, "2024-01-01 10:00:00", "2024-01-01 10:30:00")]


@pytest.mark.slow  # >14 s: gated from the default run
def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark delay
    collapse to one row (within a run and across checkpointed runs)."""
    from pyspark.sql.types import StructType

    landing = str(tmp_path / "dupes")
    ckpt = str(tmp_path / "ckd")
    schema = StructType.fromDDL("k INT, ts TIMESTAMP")

    def land(rows):
        spark.createDataFrame(rows, "k INT, ts_s STRING").selectExpr(
            "k", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(landing)

    got: list = []

    def run():
        dedup = streaming.dedup_within_watermark(
            streaming.file_stream(spark, landing, schema), ["k"], watermark="2 hours"
        )
        streaming.run_available_now(
            dedup,
            lambda df, _: got.extend((r.k, str(r.ts)) for r in df.collect()),
            ckpt,
            output_mode="append",
        )

    # run 1: key 1 arrives thrice (replayed producer), key 2 once
    land(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:00:30"),
            (1, "2024-01-01 10:01:00"),
            (2, "2024-01-01 10:05:00"),
        ]
    )
    run()
    assert sorted(got) == [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")]

    # run 2: key 1 replays again within the watermark delay -> still dropped
    got.clear()
    land([(1, "2024-01-01 10:30:00"), (3, "2024-01-01 10:30:00")])
    run()
    assert sorted(got) == [(3, "2024-01-01 10:30:00")]


def test_ledgered_batch_sink_skips_replayed_batches(spark, tmp_path):
    """Batch-id ledger: replaying a micro-batch (same batch_id) is a no-op,
    so non-idempotent side effects don't double-apply."""
    import sqlite3
    from functools import partial

    from lms_etl_pipeline_spark.sinks.jdbc_upsert import ledgered_batch_sink

    db = str(tmp_path / "ledger.db")
    con = sqlite3.connect(db)
    # counter column: an upsert that INCREMENTS on conflict would double-count
    # on replay without the ledger — use plain insert-once rows to observe it
    con.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT)")
    con.commit()
    con.close()
    factory = partial(sqlite3.connect, db, timeout=30)
    sink = ledgered_batch_sink(factory, "people", ["id"])

    batch = spark.createDataFrame([(1, "ann"), (2, "bob")], "id INT, name STRING")
    sink(batch, 7)
    sink(batch, 7)  # replay of the SAME micro-batch: must be skipped
    sink(spark.createDataFrame([(3, "cy")], "id INT, name STRING"), 8)

    c = sqlite3.connect(db)
    try:
        rows = sorted(c.execute("SELECT id, name FROM people").fetchall())
        ledger = sorted(x[0] for x in c.execute("SELECT batch_id FROM __batch_ledger"))
    finally:
        c.close()
    assert rows == [(1, "ann"), (2, "bob"), (3, "cy")]
    assert ledger == [7, 8]


def test_ledgered_batch_sink_replays_a_batch_whose_ledger_write_failed(spark, tmp_path):
    """The ledger row commits after the upsert, in its own transaction.  When
    that write fails, the batch is not recorded: its replay re-runs the
    upsert, converges, and records the batch id exactly once."""
    import os
    import sqlite3

    import pytest

    from lms_etl_pipeline_spark.sinks.jdbc_upsert import ledgered_batch_sink

    db = str(tmp_path / "ledger.db")
    fuse = str(tmp_path / "fail_next_ledger_insert")
    open(fuse, "w").close()
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE people (id INTEGER PRIMARY KEY, name TEXT)")
    con.commit()
    con.close()

    def factory():
        c = sqlite3.connect(db, timeout=30)

        def deny_one_ledger_insert(action, table, *_):
            if action == sqlite3.SQLITE_INSERT and table == "__batch_ledger" and (
                os.path.exists(fuse)
            ):
                os.remove(fuse)
                return sqlite3.SQLITE_DENY
            return sqlite3.SQLITE_OK

        c.set_authorizer(deny_one_ledger_insert)
        return c

    def state():
        c = sqlite3.connect(db)
        try:
            rows = sorted(c.execute("SELECT id, name FROM people").fetchall())
            ledger = [x[0] for x in c.execute("SELECT batch_id FROM __batch_ledger")]
        finally:
            c.close()
        return rows, ledger

    sink = ledgered_batch_sink(factory, "people", ["id"])
    batch = spark.createDataFrame([(1, "ann"), (2, "bob")], "id INT, name STRING")
    with pytest.raises(sqlite3.DatabaseError):
        sink(batch, 7)
    # the upsert committed, the ledger row did not
    assert state() == ([(1, "ann"), (2, "bob")], [])

    # drift a row, so the replay's upsert is observable
    c = sqlite3.connect(db)
    c.execute("UPDATE people SET name = 'stale' WHERE id = 1")
    c.commit()
    c.close()
    sink(batch, 7)
    assert state() == ([(1, "ann"), (2, "bob")], [7])


def test_stream_static_enrichment_broadcasts_the_dim(spark, tmp_path):
    """Stream-static join: file-streamed events enriched with a static user
    dimension; every input row survives (left join), matches carry the dim
    attribute, and the static side needs no watermark or stream state."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lms_etl_pipeline_spark.streaming import (
        enrich_stream_static,
        file_stream,
        run_available_now,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "landing")
    spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(20)], schema
    ).write.parquet(src)

    dim = spark.createDataFrame(
        [(u, f"tier{u % 2}") for u in range(3)],  # users 3, 4 unmatched
        "user_id LONG, tier STRING",
    )

    stream = file_stream(spark, src, schema)
    enriched = enrich_stream_static(stream, dim, "user_id")

    got = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    run_available_now(
        enriched, sink, str(tmp_path / "ckpt"), query_name="enrich", output_mode="append"
    )

    assert len(got) == 20, "left join must keep every stream row"
    matched = [r for r in got if r.tier is not None]
    unmatched = [r for r in got if r.tier is None]
    assert {r.user_id for r in matched} == {0, 1, 2}
    assert {r.user_id for r in unmatched} == {3, 4}
    assert all(r.tier == f"tier{r.user_id % 2}" for r in matched)


def test_streaming_incremental_curation_matches_batch_dedup(spark, tmp_path):
    """End-to-end continuous-curation loop: new documents arrive as files,
    each micro-batch dedups against the static index via foreachBatch, and
    the union of admitted docs is IDENTICAL to the one-shot batch query —
    the per-row-vs-index property that makes the operator safe to stream."""
    from pyspark.sql import functions as F

    from lms_etl_pipeline_spark.operators.dedup import dedup_delta_against_index
    from lms_etl_pipeline_spark.plans.corpus_ml import _BATCH_MOD, incremental_corpus_dedup
    from lms_etl_pipeline_spark.sources.tables import load_table
    from lms_etl_pipeline_spark.streaming import file_stream, run_available_now
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    index = d.filter(F.col("doc_id") % 10 != _BATCH_MOD)
    delta = d.filter(F.col("doc_id") % 10 == _BATCH_MOD)

    # land the delta as MULTIPLE files so AvailableNow splits micro-batches
    landing = str(tmp_path / "landing")
    delta.repartition(3).write.parquet(landing)

    admitted: list = []

    def curate(batch_df, batch_id):
        kept = dedup_delta_against_index(batch_df, index)
        admitted.extend((r.doc_id, r.lang) for r in kept.select("doc_id", "lang").collect())

    stream = file_stream(spark, landing, delta.schema, max_files_per_trigger=1)
    run_available_now(
        stream, curate, str(tmp_path / "ckpt"), query_name="curation",
        output_mode="append",
    )

    want = {(r.doc_id, r.lang) for r in incremental_corpus_dedup(spark, SF_SMOKE).collect()}
    assert set(admitted) == want, (
        f"streamed admissions diverge from batch: {len(admitted)} vs {len(want)}"
    )
    assert len(admitted) == len(set(admitted)), "no doc admitted twice"


def test_sessionize_gap_rule_properties(spark):
    """Explicit-id gap sessionization: within a session consecutive events
    are <= 30 min apart; across consecutive sessions the boundary gap is
    > 30 min (checked per user via the session summary intervals)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    df = entrymod.queries()["events_sessionize_gap"](spark, SF_SMOKE)
    a = df.select("user_id", "session_id", "t_end")
    b = df.select(
        "user_id",
        (F.col("session_id") - 1).alias("session_id"),
        F.col("t_start").alias("next_start"),
    )
    j = a.join(b, ["user_id", "session_id"])
    gap_us = F.unix_micros("next_start") - F.unix_micros("t_end")
    assert j.filter(gap_us <= 30 * 60 * 1_000_000).count() == 0
    # session ids are dense from 1 per user
    agg = df.groupBy("user_id").agg(
        F.min("session_id").alias("lo"),
        F.max("session_id").alias("hi"),
        F.count("*").alias("n"),
    )
    assert agg.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


def test_watermark_loss_curve_monotone(spark):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    rows = sorted(
        entrymod.queries()["watermark_loss_curve"](spark, SF_SMOKE).collect(),
        key=lambda r: r.delay_min,
    )
    assert [r.delay_min for r in rows] == [1, 5, 10, 30]
    drops = [r.n_dropped for r in rows]
    # a longer watermark delay can only drop FEWER events
    assert drops == sorted(drops, reverse=True)
    assert all(0 <= r.drop_rate <= 1 for r in rows)


@pytest.mark.slow  # >14 s: gated from the default run
def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: an impression with no click inside
    the bound must eventually emit with NULL right columns — but only
    after the watermark PROVES no match can still arrive (state eviction,
    not timeout guesswork).  Watermark advancement is cross-batch, so the
    outer row surfaces on a later availableNow run from the same
    checkpoint — the same cross-run pattern as the dedup test."""
    from pyspark.sql.types import StructType

    imp_path, clk_path = str(tmp_path / "imp"), str(tmp_path / "clk")
    ckpt = str(tmp_path / "ckoj")
    schema = StructType.fromDDL("ad_id INT, ts TIMESTAMP")

    def land(path, rows):
        spark.createDataFrame(rows, "ad_id INT, ts_s STRING").selectExpr(
            "ad_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(path)

    land(imp_path, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")])
    land(clk_path, [(1, "2024-01-01 10:30:00")])  # ad 2 never clicks

    got: list = []

    def run():
        joined = streaming.stream_stream_join(
            streaming.file_stream(spark, imp_path, schema),
            streaming.file_stream(spark, clk_path, schema),
            key_col="ad_id",
            within="1 hour",
            watermark="1 hour",
            how="left_outer",
        )
        streaming.run_available_now(
            joined,
            lambda df, _: got.extend(
                (r.ad_id, r.ts_r is not None) for r in df.collect()
            ),
            ckpt,
            output_mode="append",
        )

    run()  # batch 1: inner match for ad 1; ad 2 still buffered
    assert (1, True) in got
    assert (2, False) not in got  # not yet provably unmatched

    # the GLOBAL watermark is the min across sources, so BOTH streams must
    # advance past ad 2's join bound before the outer row can emit
    land(imp_path, [(90, "2024-01-02 12:00:00")])
    land(clk_path, [(91, "2024-01-02 12:00:00")])
    run()
    land(imp_path, [(92, "2024-01-03 12:00:00")])
    land(clk_path, [(93, "2024-01-03 12:00:00")])
    run()
    assert (2, False) in got  # outer row emitted exactly once
    assert sum(1 for g in got if g[0] == 2) == 1


def test_session_window_oracle_deterministic_under_duplicate_ts():
    """Regression pin for the r7 oracle fix: gaps-and-islands computed over
    raw rows is NONDETERMINISTIC when ts has duplicates (ROWS framing over
    a non-unique ORDER BY key lets an arbitrary subset of a tie group sort
    before the session-boundary flag).  The shipped oracle computes session
    ids over DISTINCT (user_id, ts) and joins back, so repeated runs on a
    duplicate-heavy frame must agree exactly — and every event at one
    timestamp must land in one session (Spark's merge semantics)."""
    import duckdb

    import __spark_entry__ as entrymod

    osql = entrymod.oracle_sql()["events_session_window"]
    con = duckdb.connect()
    # 8 copies of each of 400 timestamps across 5 users, gaps straddling
    # the 10-minute boundary
    con.execute(
        """CREATE VIEW events AS
           SELECT (i % 5) AS user_id,
                  TIMESTAMP '2024-01-01' + INTERVAL (
                      (i // 40) * (9 + (i % 3))
                  ) MINUTE AS ts,
                  'click' AS event_type, 1.0 AS value, i AS event_id
           FROM range(3200) t(i)"""
    )
    runs = {
        tuple(sorted(map(tuple, con.sql(osql).fetchall())))
        for _ in range(5)
    }
    assert len(runs) == 1
    # no timestamp may split across two sessions of the same user
    (split,) = con.sql(
        f"""SELECT COUNT(*) FROM (
              SELECT e.user_id, e.ts, COUNT(DISTINCT s.session_start) AS ns
              FROM events e
              JOIN ({osql}) s
                ON e.user_id = s.user_id
               AND e.ts >= s.session_start AND e.ts < s.session_end
              GROUP BY e.user_id, e.ts HAVING ns > 1)"""
    ).fetchall()[0]
    assert split == 0
