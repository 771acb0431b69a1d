"""Tests for sources/sinks: parquet catalog, CSV round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from lms_etl_pipeline_spark.sources import csv_io, tables
from tests.conftest import SF_SMOKE


def test_load_table_known(spark):
    df = tables.load_table(spark, SF_SMOKE, "nation")
    assert df.count() == 25


def test_load_table_unknown_raises(spark):
    with pytest.raises(KeyError):
        tables.load_table(spark, SF_SMOKE, "not_a_table")


def test_events_ts_normalized_to_timestamp(spark):
    df = tables.load_table(spark, SF_SMOKE, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"


# The events fixture's parquet TIMESTAMP(NANOS) column surfaces differently
# across Spark versions: legacy readers honor nanosAsLong and hand back a
# LongType of raw nanos; Spark 4.1+ reads it natively as TIMESTAMP_NTZ
# (micros).  A reader that handles only the LongType branch breaks on 4.1+.
# This parametrized test pins BOTH reader behaviors (plus the already-
# normalized passthrough) so the next Spark minor bump cannot silently
# re-break events.ts consumers.
_TS_MICROS = 1_700_000_123_456_789  # 2023-11-14T22:15:23.456789Z


@pytest.mark.parametrize("reader_shape", ["nanos_as_long", "native_ntz", "already_ltz"])
def test_normalize_ts_covers_all_reader_behaviors(spark, reader_shape):
    import datetime as dt

    naive = dt.datetime.utcfromtimestamp(_TS_MICROS / 1_000_000)
    if reader_shape == "nanos_as_long":
        src = spark.createDataFrame(
            [Row(event_id=1, ts=_TS_MICROS * 1000)],
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.LongType()),
                ]
            ),
        )
    elif reader_shape == "native_ntz":
        src = spark.createDataFrame(
            [Row(event_id=1, ts=naive)],
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampNTZType()),
                ]
            ),
        )
    else:  # already a session-TZ timestamp: normalization must be a no-op
        src = spark.createDataFrame(
            [Row(event_id=1, ts=naive)],
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampType()),
                ]
            ),
        )

    out = tables._normalize_ts(src)
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    got = out.collect()[0].ts
    # session TZ is UTC, so every shape must land on the exact same instant
    assert got.replace(tzinfo=None) == naive


def test_load_tables_skips_missing(spark, tmp_path):
    # empty dir: no tables, no crash (lazy probe, not os.path.exists)
    assert tables.load_tables(spark, str(tmp_path)) == {}


def test_register_views(spark):
    tables.register_views(spark, SF_SMOKE)
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0].n == 5


def test_csv_roundtrip_preserves_nulls_and_empty_strings(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(1, None), (2, ""), (3, "x")], schema)
    path = str(tmp_path / "csv")
    csv_io.write_csv(df, path)
    back = {r.id: r.s for r in csv_io.read_csv(spark, path, schema).collect()}
    assert back[1] is None  # NULL round-trips as NULL, not ''
    assert back[2] == ""  # empty string stays a string
    assert back[3] == "x"


def test_csv_single_file_mode(spark, tmp_path):
    df = spark.createDataFrame([Row(a=i) for i in range(10)]).repartition(4)
    path = str(tmp_path / "one")
    csv_io.write_csv(df, path, single_file=True)
    import glob

    assert len(glob.glob(f"{path}/part-*.csv")) == 1


def test_orc_roundtrip_pushes_filter_into_scan(spark):
    from lms_etl_pipeline_spark.plans.etl import orc_roundtrip_orders

    df = orc_roundtrip_orders(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("Scan orc"):]
    assert "PushedFilters: [" in scan
    pushed = scan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pushed, "status filter must reach the ORC reader"
    assert df.count() > 0


def test_load_table_pins_utc_in_foreign_session(spark):
    """The driver builds its OWN session; engine conf must not be assumed.
    load_table pins the session timezone to UTC at runtime (like
    nanosAsLong) because the NTZ->LTZ events cast and every to_date /
    weekday derivation are oracle-consistent only under UTC."""
    from lms_etl_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_table(spark, SF_SMOKE, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# -- session.local_frame: the one driver-rows -> frame seam ------------------

_SEAM_DDL = "n bigint, i int, x double, s string, b boolean, a array<string>"
_SEAM_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("a", T.ArrayType(T.StringType())),
    ]
)
_SEAM_TUPLES = [
    (1, 2, 0.5, "p", True, ["u", None]),
    (None, None, None, None, None, None),
    (-(2**62), -7, -1e300, "", False, []),
]


@pytest.mark.parametrize(
    "rows",
    [
        _SEAM_TUPLES,
        [Row(*t) for t in _SEAM_TUPLES],
        # a missing key reads as NULL
        [{"n": 1, "s": "p", "a": ["u"]}, {"i": 3, "x": 0.25, "b": False}, {}],
        [],
    ],
    ids=["tuples", "rows", "dicts", "empty"],
)
@pytest.mark.parametrize("schema", [_SEAM_SCHEMA, _SEAM_DDL], ids=["struct", "ddl"])
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    """The seam gives the frame ``createDataFrame(rows, schema)`` gives:
    same schema, same rows, NULLs included, for every accepted row form."""
    from lms_etl_pipeline_spark.session import local_frame

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == _SEAM_SCHEMA
    assert got.collect() == want.collect()


def test_local_frame_rejects_fraction_in_bigint(spark):
    """The Arrow conversion alone would truncate 1.5 to 1; the seam's row
    check raises instead, as createDataFrame over Python rows does."""
    from lms_etl_pipeline_spark.session import local_frame

    with pytest.raises(TypeError):
        local_frame(spark, [(1.5, None, None, None, None, None)], _SEAM_SCHEMA)


def test_seam_built_frames_scan_a_local_table(spark):
    """A seam-built frame is a local table scan in the JVM, not a scan
    over a pickled RDD, which runs Python-worker tasks."""
    from lms_etl_pipeline_spark.plans.order_stats import quantile_exact_selection
    from lms_etl_pipeline_spark.session import local_frame

    for df in (
        local_frame(spark, _SEAM_TUPLES, _SEAM_SCHEMA),
        quantile_exact_selection(spark, SF_SMOKE),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
