"""applyInPandasWithState: first-seen dedup across micro-batches.

State must persist BETWEEN AvailableNow runs (checkpointed) — a key seen in
run 1 stays deduped in run 2.
"""

from __future__ import annotations

import pytest

from lms_etl_pipeline_spark import streaming
from lms_etl_pipeline_spark.streaming.stateful import streaming_first_seen

DDL = "user STRING, ts TIMESTAMP"


def _land(spark, path, rows):
    spark.createDataFrame(rows, "user STRING, ts_s STRING").selectExpr(
        "user", "CAST(ts_s AS TIMESTAMP) AS ts"
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.slow  # >14 s: gated from the default run
def test_first_seen_across_runs(spark, tmp_path):
    landing = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    got: list[tuple] = []

    def sink(batch_df, batch_id):
        got.extend((r.key, str(r.first_ts)) for r in batch_df.collect())

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(DDL)

    # run 1: u1 twice, u2 once -> two first-seen rows
    _land(spark, landing, [("u1", "2024-01-01 00:00:05"), ("u1", "2024-01-01 00:00:09"),
                           ("u2", "2024-01-01 00:01:00")])
    stream = streaming_first_seen(
        streaming.file_stream(spark, landing, schema), "user", "ts"
    )
    streaming.run_available_now(stream, sink, ckpt, output_mode="append")
    assert sorted(got) == [("u1", "2024-01-01 00:00:05"), ("u2", "2024-01-01 00:01:00")]

    # run 2: u1 again (stateful drop) + new u3 (emitted)
    got.clear()
    _land(spark, landing, [("u1", "2024-01-01 02:00:00"), ("u3", "2024-01-01 02:00:01")])
    stream = streaming_first_seen(
        streaming.file_stream(spark, landing, schema), "user", "ts"
    )
    streaming.run_available_now(stream, sink, ckpt, output_mode="append")
    assert sorted(got) == [("u3", "2024-01-01 02:00:01")]


@pytest.mark.slow  # >14 s: gated from the default run
def test_streaming_corpus_dedup_pipeline(spark, tmp_path):
    """Composition: file stream -> content fingerprint -> stateful
    first-seen dedup -> collected sink.  A doc re-ingested in a later batch
    (same content, new doc_id) is dropped by the fingerprint key."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from lms_etl_pipeline_spark.operators import text as tx

    landing = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckd")
    schema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")

    def land(rows):
        spark.createDataFrame(rows, "doc_id BIGINT, text STRING, ts_s STRING").selectExpr(
            "doc_id", "text", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(landing)

    got: list = []

    def run():
        stream = streaming.file_stream(spark, landing, schema).select(
            tx.fingerprint("text").alias("fp"), "ts"
        )
        deduped = streaming_first_seen(stream, "fp", "ts")
        streaming.run_available_now(
            deduped, lambda df, _: got.extend(r.key for r in df.collect()), ckpt,
            output_mode="append",
        )

    land([(1, "the quick brown fox", "2024-01-01 00:00:00"),
          (2, "a wholly different document", "2024-01-01 00:00:01")])
    run()
    assert len(got) == 2

    got.clear()
    # re-ingest doc 1's content under a new id (word order shuffled — the
    # canonical-form fingerprint still matches), plus one genuinely new doc
    land([(3, "brown quick the fox", "2024-01-02 00:00:00"),
          (4, "never seen before text", "2024-01-02 00:00:01")])
    run()
    assert len(got) == 1  # only the new doc emerges


@pytest.mark.slow  # >14 s: gated from the default run
def test_streaming_sessionize_emits_only_closed_sessions(spark, tmp_path):
    """Event-time-timeout sessionizer: a session is emitted exactly once —
    when the watermark passes its last event + gap — and open sessions
    stay unemitted across checkpointed runs."""
    from pyspark.sql.types import StructType

    from lms_etl_pipeline_spark import streaming
    from lms_etl_pipeline_spark.streaming.stateful import streaming_sessionize

    landing = str(tmp_path / "sess_ev")
    ckpt = str(tmp_path / "ck_sess")
    schema = StructType.fromDDL("user STRING, ts TIMESTAMP")

    def land(rows):
        spark.createDataFrame(rows, "user STRING, ts_s STRING").selectExpr(
            "user", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(landing)

    got: list = []

    def run():
        sessions = streaming_sessionize(
            streaming.file_stream(spark, landing, schema), "user", gap_ms=600_000
        )
        streaming.run_available_now(
            sessions,
            lambda df, _: got.extend(
                (r.key, str(r.session_start), str(r.session_end), r.n_events)
                for r in df.collect()
            ),
            ckpt,
            output_mode="append",
        )

    # run 1: user a has a 2-event burst; nothing can close yet (watermark
    # stops at the max seen event time, 10:05 < 10:05+gap)
    land([("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:05:00")])
    run()
    assert got == []

    # run 2: a later event from user b advances the watermark past a's
    # gap -> a's session closes and emits; b's own session stays open
    land([("b", "2024-01-01 11:00:00")])
    run()
    assert got == [("a", "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2)]


def test_running_totals_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas: lifetime totals persist across
    AvailableNow runs via RocksDB-backed ValueState, and the threshold
    alert fires exactly when the lifetime sum crosses it.

    Skipped where the 'protobuf' package (pyspark's streaming state-server
    wire protocol) is unavailable — the container ships without it; the
    operator raises a named-dependency error there instead (gated seam,
    same contract as the multimodal codecs)."""
    try:
        import google.protobuf  # noqa: F401
        _has_protobuf = True
    except ImportError:
        _has_protobuf = False
    if not _has_protobuf:
        from lms_etl_pipeline_spark.streaming.stateful import (
            streaming_running_totals,
        )

        with pytest.raises(ModuleNotFoundError, match="protobuf"):
            streaming_running_totals(
                spark.readStream.format("rate").load(), "value", "value"
            )
        pytest.skip("protobuf not installed: transformWithState runtime unavailable")

    from lms_etl_pipeline_spark.streaming.stateful import streaming_running_totals

    landing = str(tmp_path / "spend")
    ckpt = str(tmp_path / "ckt")
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("user STRING, amount DOUBLE")

    def land(rows):
        spark.createDataFrame(rows, "user STRING, amount DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(landing)

    got: dict[str, tuple] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[r.key] = (r.n, r.total, r.alerted)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        # run 1: u1 spends 60 (two rows), u2 spends 10
        land([("u1", 25.0), ("u1", 35.0), ("u2", 10.0)])
        out = streaming_running_totals(
            streaming.file_stream(spark, landing, schema), "user", "amount",
            threshold=100.0,
        )
        streaming.run_available_now(out, sink, ckpt, output_mode="update")
        assert got["u1"][0] == 2 and got["u1"][1] == pytest.approx(60.0)
        assert got["u1"][2] is False and got["u2"][2] is False

        # run 2: u1 crosses the threshold (60 + 50); u2 untouched this run
        got.clear()
        land([("u1", 50.0)])
        out = streaming_running_totals(
            streaming.file_stream(spark, landing, schema), "user", "amount",
            threshold=100.0,
        )
        streaming.run_available_now(out, sink, ckpt, output_mode="update")
        assert got["u1"] == (3, pytest.approx(110.0), True)
        assert "u2" not in got, "untouched key must not re-emit in Update mode"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


@pytest.mark.slow  # >14 s: gated from the default run
def test_streaming_ewma_split_invariant_and_recursive(spark, tmp_path):
    """streaming_ewma folds the recurrence identically no matter where the
    micro-batch boundaries land: one-run ingestion and two-run ingestion
    (checkpointed state across AvailableNow restarts) both reproduce the
    pandas-computed recursive EWMA."""
    from pyspark.sql.types import StructType

    from lms_etl_pipeline_spark.streaming.stateful import streaming_ewma

    ddl = "user STRING, ts TIMESTAMP, v DOUBLE"

    def land(path, rows):
        spark.createDataFrame(rows, "user STRING, ts_s STRING, v DOUBLE").selectExpr(
            "user", "CAST(ts_s AS TIMESTAMP) AS ts", "v"
        ).coalesce(1).write.mode("append").parquet(path)

    series = [
        ("u1", "2024-01-01 00:00:01", 10.0),
        ("u1", "2024-01-01 00:00:02", 20.0),
        ("u1", "2024-01-01 00:00:03", 30.0),
        ("u1", "2024-01-01 00:00:04", 40.0),
        ("u2", "2024-01-01 00:00:01", 5.0),
        ("u2", "2024-01-01 00:00:02", 15.0),
    ]

    def reference(alpha=0.5):
        out = {}
        state: dict[str, float] = {}
        for u, ts, v in series:
            ew = v if u not in state else alpha * v + (1 - alpha) * state[u]
            state[u] = ew
            out[(u, ts)] = ew
        return out

    expect = reference()

    def run(split: bool, tag: str):
        landing = str(tmp_path / f"in_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        got: dict[tuple, float] = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                got[(r.key, str(r.ts))] = r.ewma

        batches = [series[:3], series[3:]] if split else [series]
        for rows in batches:
            land(landing, rows)
            stream = streaming_ewma(
                streaming.file_stream(spark, landing, StructType.fromDDL(ddl)),
                "user", "v",
            )
            streaming.run_available_now(stream, sink, ckpt, output_mode="append")
        return got

    one = run(False, "one")
    two = run(True, "two")
    assert one == two == {
        (u, ts): e for (u, ts), e in expect.items()
    }, f"one={one} two={two} expect={expect}"


@pytest.mark.slow  # >14 s: gated from the default run
def test_streaming_quota_gate_split_invariant(spark, tmp_path):
    """The quota gate admits exactly the first `limit` events per key by
    ts, with identical decisions whether the stream arrives as one batch
    or two checkpointed AvailableNow runs."""
    from pyspark.sql.types import StructType

    from lms_etl_pipeline_spark.streaming.stateful import streaming_quota_gate

    ddl = "user STRING, ts TIMESTAMP"
    series = [
        ("u1", f"2024-01-01 00:00:0{i}") for i in range(1, 6)
    ] + [("u2", "2024-01-01 00:00:01")]

    def land(path, rows):
        spark.createDataFrame(rows, "user STRING, ts_s STRING").selectExpr(
            "user", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(path)

    def run(split: bool, tag: str):
        landing = str(tmp_path / f"in_{tag}")
        ckpt = str(tmp_path / f"ck_{tag}")
        got: dict[tuple, tuple] = {}

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                got[(r.key, str(r.ts))] = (r.admitted, r.n_used, r.n_rejected)

        batches = [series[:3], series[3:]] if split else [series]
        for rows in batches:
            land(landing, rows)
            stream = streaming_quota_gate(
                streaming.file_stream(spark, landing, StructType.fromDDL(ddl)),
                "user",
                limit=3,
            )
            streaming.run_available_now(stream, sink, ckpt, output_mode="append")
        return got

    one = run(False, "one")
    two = run(True, "two")
    assert one == two
    # u1: first 3 admitted, last 2 rejected; u2: admitted
    assert one[("u1", "2024-01-01 00:00:01")][0] is True
    assert one[("u1", "2024-01-01 00:00:03")] == (True, 3, 0)
    assert one[("u1", "2024-01-01 00:00:04")] == (False, 3, 1)
    assert one[("u1", "2024-01-01 00:00:05")] == (False, 3, 2)
    assert one[("u2", "2024-01-01 00:00:01")] == (True, 1, 0)


def test_streaming_ewma_cross_chunk_order(spark, tmp_path):
    """One key's micro-batch delivered as MULTIPLE Arrow chunks in
    reverse ts order must still fold the recurrence in event-time order
    — the scenario the per-chunk sort of the original implementation
    silently got wrong (each chunk was sorted internally, but the fold
    ran across chunks in arrival order).  Forcing 2-row Arrow batches on
    a descending-ts file makes every chunk boundary an ordering hazard."""
    from pyspark.sql.types import StructType

    from lms_etl_pipeline_spark.streaming.stateful import streaming_ewma

    ddl = "user STRING, ts TIMESTAMP, v DOUBLE"
    series = [
        ("u1", f"2024-01-01 00:00:0{i}", float(v))
        for i, v in zip(range(1, 7), (10, 20, 30, 40, 50, 60))
    ]

    def reference(alpha=0.5):
        out = {}
        ew = None
        for u, ts, v in series:
            ew = v if ew is None else alpha * v + (1 - alpha) * ew
            out[(u, ts)] = ew
        return out

    landing = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    # land ts-DESCENDING in one file: chunk order != event order
    spark.createDataFrame(
        list(reversed(series)), "user STRING, ts_s STRING, v DOUBLE"
    ).selectExpr("user", "CAST(ts_s AS TIMESTAMP) AS ts", "v").coalesce(
        1
    ).write.mode("append").parquet(landing)

    got: dict[tuple, float] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[(r.key, str(r.ts))] = r.ewma

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = streaming_ewma(
            streaming.file_stream(spark, landing, StructType.fromDDL(ddl)),
            "user",
            "v",
        )
        streaming.run_available_now(stream, sink, ckpt, output_mode="append")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert got == reference(), got
