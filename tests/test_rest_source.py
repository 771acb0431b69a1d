"""REST source tests against a local stdlib HTTP server serving canned JSON
(the reference's LMS API shape: authenticate + paginated users feed)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import types as T

from lms_etl_pipeline_spark.sources.rest import RestSource

USERS = [
    {"id": 1, "externalId": "x1", "firstName": "Ann", "departmentId": "D1"},
    {"id": 2, "externalId": "x2", "firstName": "Bob", "departmentId": "D2"},
]


class _Handler(BaseHTTPRequestHandler):
    seen: list[tuple[str, dict, dict]] = []  # (path, query, headers)
    users: list[dict] = USERS  # the page served; a test may swap it

    def log_message(self, *a):  # silence
        pass

    def _send(self, obj, status=200):
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        if self.path == "/authenticate":
            self._send({"access_token": "tok-123", "expires_in": 3600})
        else:
            self._send({"error": "not found"}, 404)

    def do_GET(self):
        parsed = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        # urllib title-cases header names; store lowercased for assertions
        _Handler.seen.append((parsed.path, q, {k.lower(): v for k, v in self.headers.items()}))
        users = _Handler.users
        flt = q.get("_filter", "")
        if flt.startswith("departmentId eq "):
            want = flt.split("'")[1]
            users = [u for u in users if u["departmentId"] == want]
        self._send(
            {"totalItems": len(users), "limit": 100, "offset": 0,
             "returnedItems": len(users), "users": users}
        )


@pytest.fixture(scope="module")
def server():
    httpd = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("externalId", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("departmentId", T.StringType()),
    ]
)


def test_authenticate_and_bearer_header(server, spark):
    src = RestSource(server, api_key="k1")
    tok = src.authenticate("u", "p", "priv")
    assert tok == "tok-123"
    src.read_table(spark, "list_users", SCHEMA)
    _, _, headers = _Handler.seen[-1]
    assert headers.get("authorization") == "Bearer tok-123"
    assert headers.get("x-api-key") == "k1"


def test_read_table_typed_rows(server, spark):
    src = RestSource(server)
    df = src.read_table(spark, "list_users", SCHEMA)
    assert df.schema == SCHEMA
    assert {r.firstName for r in df.collect()} == {"Ann", "Bob"}


def test_filter_pushdown_interpolates_value(server, spark):
    """Reference O1 bug (literal 'department_id' shipped instead of the env
    value) must NOT be replicated: the filter value reaches the server."""
    src = RestSource(server)
    df = src.read_table(spark, "list_users", SCHEMA, filters={"departmentId": "D1"})
    _, q, _ = _Handler.seen[-1]
    assert q["_filter"] == "departmentId eq 'D1'"
    rows = df.collect()
    assert len(rows) == 1 and rows[0].departmentId == "D1"


def test_unknown_logical_table_raises(server, spark):
    with pytest.raises(KeyError):
        RestSource(server).read_table(spark, "nope", SCHEMA)


@pytest.mark.parametrize(
    "field, value",
    [("id", 1.5), ("id", "1"), ("isActive", 1)],
    ids=["fractional_id", "string_id", "integer_isActive"],
)
def test_read_table_rejects_a_mistyped_value(server, spark, monkeypatch, field, value):
    """A value of the wrong JSON type raises at ``read_table``: Arrow's own
    conversion would truncate 1.5 into a BIGINT without a word."""
    schema = T.StructType(SCHEMA.fields + [T.StructField("isActive", T.BooleanType())])
    bad = {**USERS[1], "isActive": True, field: value}
    monkeypatch.setattr(_Handler, "users", [{**USERS[0], "isActive": False}, bad])
    with pytest.raises((TypeError, ValueError)):
        RestSource(server).read_table(spark, "list_users", schema)


def test_empty_page_reads_as_an_empty_typed_frame(server, spark, monkeypatch):
    monkeypatch.setattr(_Handler, "users", [])
    df = RestSource(server).read_table(spark, "list_users", SCHEMA)
    assert df.schema == SCHEMA
    assert df.collect() == []


def test_missing_key_reads_as_null(server, spark, monkeypatch):
    nested = T.StructType(SCHEMA.fields + [
        T.StructField("customFields", T.StructType([T.StructField("cohort", T.StringType())])),
    ])
    monkeypatch.setattr(_Handler, "users", [
        {"id": 1, "firstName": "Ann", "departmentId": "D1", "customFields": {}},
        {"id": 2, "externalId": "x2", "departmentId": "D2"},
    ])
    df = RestSource(server).read_table(spark, "list_users", nested)
    assert df.schema == nested
    rows = {r.id: r for r in df.collect()}
    assert rows[1].externalId is None and rows[1].customFields.cohort is None
    assert rows[2].firstName is None and rows[2].customFields is None
