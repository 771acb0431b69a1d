"""Golden end-to-end test of the flagship extract+load pipeline: REST stub ->
CSV snapshot -> typed upsert into sqlite, twice (idempotence), with the
reference's documented edge cases in the data (nested customFields, bad
dates, missing values)."""

from __future__ import annotations

import json
import re
import sqlite3
import threading
from functools import partial
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import types as T

from lms_etl_pipeline_spark import pipeline
from lms_etl_pipeline_spark.sources.csv_io import read_csv
from lms_etl_pipeline_spark.sources.rest import RestSource

USERS = [
    {
        "id": 1,
        "externalId": "e1",
        "firstName": "Ann",
        "dateHired": "03-15-2020 09:00:00",
        "customFields": {"cohort": "A", "mentor": None},
    },
    {
        "id": 2,
        "externalId": None,
        "firstName": "Bob",
        "dateHired": "2020-03-15T09:00:00",  # ISO: coerces to NULL (T7)
        "customFields": {"cohort": None, "mentor": "ann"},
    },
]


#: user id -> department, for the stub's ``_filter`` handling
DEPARTMENTS = {1: "O'Brien", 2: "D2"}

#: an OData string literal: quotes inside it are doubled
_DEPT_FILTER = re.compile(r"departmentId eq '((?:[^']|'')*)'")


class _Api(BaseHTTPRequestHandler):
    filters: list[str] = []

    def log_message(self, *a):
        pass

    def do_GET(self):
        users = USERS
        flt = parse_qs(urlparse(self.path).query).get("_filter")
        if flt:
            _Api.filters.append(flt[0])
            m = _DEPT_FILTER.fullmatch(flt[0])
            if not m:
                self.send_error(400, "malformed _filter")
                return
            want = m.group(1).replace("''", "'")
            users = [u for u in USERS if DEPARTMENTS[u["id"]] == want]
        n = len(users)
        body = json.dumps(
            {"totalItems": n, "limit": 100, "offset": 0, "returnedItems": n, "users": users}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def api():
    httpd = HTTPServer(("127.0.0.1", 0), _Api)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


API_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("externalId", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("dateHired", T.StringType()),
        T.StructField(
            "customFields",
            T.StructType(
                [T.StructField("cohort", T.StringType()), T.StructField("mentor", T.StringType())]
            ),
        ),
    ]
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("lms_user_id", T.LongType()),
        T.StructField("illum_id", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("date_hired", T.StringType()),
        T.StructField("custom_fields", T.StringType()),
    ]
)

TARGET_SCHEMA = T.StructType(
    [
        T.StructField("lms_user_id", T.LongType()),
        T.StructField("illum_id", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("date_hired", T.StringType()),  # parsed after alignment
        T.StructField("custom_fields", T.StringType()),
    ]
)


def test_extract_load_end_to_end(spark, api, tmp_path):
    csv_path = str(tmp_path / "snapshot")
    rename = dict(pipeline.etl.LMS_RENAME_MAP)

    pipeline.run_extract(
        spark, RestSource(api), API_SCHEMA, csv_path, rename_map=rename
    )

    db = str(tmp_path / "lms.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE department_members (lms_user_id INTEGER PRIMARY KEY, "
        "illum_id TEXT, first_name TEXT, date_hired TEXT, custom_fields TEXT)"
    )
    con.commit()
    con.close()

    def connect():
        # executor-side factory: sqlite3 has no default datetime adapter
        import datetime
        import sqlite3 as sq

        sq.register_adapter(datetime.datetime, lambda d: d.isoformat(" "))
        return sq.connect(db, timeout=30)

    def load():
        pipeline.run_load(
            spark,
            csv_path,
            CSV_SCHEMA,
            TARGET_SCHEMA,
            connect,
            "department_members",
            ["lms_user_id"],
            datetime_cols=("date_hired",),
        )

    load()
    load()  # idempotent: same snapshot twice => same table state

    con = sqlite3.connect(db)
    rows = {
        r[0]: r
        for r in con.execute(
            "SELECT lms_user_id, illum_id, first_name, date_hired, custom_fields "
            "FROM department_members"
        ).fetchall()
    }
    con.close()

    assert len(rows) == 2
    # flatten+rename+pack: nested customFields became null-dropped JSON
    assert json.loads(rows[1][4]) == {"cohort": "A"}
    assert json.loads(rows[2][4]) == {"mentor": "ann"}
    # T7: US-format parses, ISO coerces to NULL
    assert rows[1][3] is not None and rows[1][3].startswith("2020-03-15")
    assert rows[2][3] is None
    # T3 strict_strings: NULL externalId became the reference's ' ' fill
    assert rows[2][1] == " "


def test_extract_escapes_a_quoted_department_id(spark, api, tmp_path):
    """A quote inside the department id reaches the API doubled (OData's
    string-literal escape), so the server filters on the whole value."""
    _Api.filters.clear()
    csv_path = str(tmp_path / "snapshot")
    pipeline.run_extract(
        spark,
        RestSource(api),
        API_SCHEMA,
        csv_path,
        department_id="O'Brien",
        rename_map=dict(pipeline.etl.LMS_RENAME_MAP),
    )
    assert _Api.filters == ["departmentId eq 'O''Brien'"]
    rows = read_csv(spark, csv_path, CSV_SCHEMA).collect()
    assert [r.lms_user_id for r in rows] == [1]


def test_extract_failure_publishes(spark, tmp_path):
    seen: list = []
    bad = RestSource("http://127.0.0.1:1")  # nothing listens
    with pytest.raises(Exception):
        pipeline.run_extract(
            spark, bad, API_SCHEMA, str(tmp_path / "x"), publisher=lambda s, m: seen.append(s)
        )
    assert seen and "extract" in seen[0]
