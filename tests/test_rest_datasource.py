"""Python Data Source REST reader: partitioned pagination + filter pushdown
against a local paginated HTTP server."""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.sources.rest_datasource import RestApiDataSource

N_USERS = 25
USERS = [
    {"id": i, "firstName": f"user{i}", "departmentId": f"D{i % 3}"} for i in range(N_USERS)
]


#: an OData string literal: quotes inside it are doubled
_DEPT_FILTER = re.compile(r"departmentId eq '((?:[^']|'')*)'")


class _PagedApi(BaseHTTPRequestHandler):
    requests: list[dict] = []

    def log_message(self, *a):
        pass

    def do_GET(self):
        q = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
        _PagedApi.requests.append(q)
        rows = USERS
        if "_filter" in q:
            m = _DEPT_FILTER.fullmatch(q["_filter"])
            if not m:
                self.send_error(400, "malformed _filter")
                return
            want = m.group(1).replace("''", "'")
            rows = [u for u in rows if u["departmentId"] == want]
        total = len(rows)
        off, lim = int(q.get("offset", 0)), int(q.get("limit", 100))
        page = rows[off : off + lim]
        body = json.dumps(
            {"totalItems": total, "offset": off, "limit": lim,
             "returnedItems": len(page), "users": page}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def api():
    httpd = HTTPServer(("127.0.0.1", 0), _PagedApi)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(RestApiDataSource)
    return spark


def _read(spark, base_url, page_size=10):
    return (
        spark.read.format("rest_api")
        .schema("id BIGINT, firstName STRING, departmentId STRING")
        .option("base_url", base_url)
        .option("endpoint", "/users")
        .option("page_size", str(page_size))
        .load()
    )


def test_partitioned_pagination(registered, api):
    _PagedApi.requests.clear()
    df = _read(registered, api, page_size=10)
    rows = df.collect()
    assert len(rows) == N_USERS
    assert {r.id for r in rows} == set(range(N_USERS))
    # 1 metadata call (limit=1) + 3 page fetches (25 rows / 10 per page)
    offsets = sorted(int(q["offset"]) for q in _PagedApi.requests if q.get("limit") != "1")
    assert offsets == [0, 10, 20]


def test_equality_filter_pushes_to_api(registered, api):
    _PagedApi.requests.clear()
    df = _read(registered, api).filter(F.col("departmentId") == "D1")
    rows = df.collect()
    assert {r.departmentId for r in rows} == {"D1"}
    assert len(rows) == len([u for u in USERS if u["departmentId"] == "D1"])
    # every request carried the pushed predicate
    assert all(q.get("_filter") == "departmentId eq 'D1'" for q in _PagedApi.requests)


def test_quoted_filter_value_pushes_escaped(registered, api):
    """A quote inside a pushed value reaches the API doubled (OData's
    string-literal escape), so the server filters on the whole value."""
    USERS.append({"id": 100, "firstName": "obrien", "departmentId": "O'Brien"})
    _PagedApi.requests.clear()
    try:
        rows = _read(registered, api).filter(F.col("departmentId") == "O'Brien").collect()
    finally:
        del USERS[N_USERS:]  # restore module fixture state for other tests
    assert [r.id for r in rows] == [100]
    assert _PagedApi.requests
    assert all(q.get("_filter") == "departmentId eq 'O''Brien'" for q in _PagedApi.requests)


class _IgnoresFilterApi(_PagedApi):
    """Server that silently drops the ``_filter`` param — the common REST
    behavior for unknown query params."""

    def do_GET(self):
        q = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
        q.pop("_filter", None)  # pretend we never saw it
        self.path = "/users?" + "&".join(f"{k}={v}" for k, v in q.items())
        super().do_GET()


@pytest.fixture(scope="module")
def deaf_api():
    httpd = HTTPServer(("127.0.0.1", 0), _IgnoresFilterApi)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


def test_filter_correct_when_api_ignores_pushdown(registered, deaf_api):
    """Spark must re-apply pushed predicates post-scan: a server that drops
    ``_filter`` would otherwise return unfiltered rows as if they matched."""
    df = _read(registered, deaf_api).filter(F.col("departmentId") == "D1")
    rows = df.collect()
    assert {r.departmentId for r in rows} == {"D1"}
    assert len(rows) == len([u for u in USERS if u["departmentId"] == "D1"])


def test_schema_is_mandatory(registered, api):
    with pytest.raises(Exception, match="schema"):
        registered.read.format("rest_api").option("base_url", api).option(
            "endpoint", "/users"
        ).load().collect()

def test_streaming_rest_source_incremental_across_runs(registered, api, tmp_path):
    """The reference's poll-and-land ingestion as a Structured Streaming
    source: run 1 drains the collection via availableNow; rows appended to
    the API afterwards are picked up by run 2 FROM THE SAME CHECKPOINT —
    proving the offset ledger advances and replays deterministically."""
    ckpt = str(tmp_path / "rest_stream_ckpt")
    out = str(tmp_path / "rest_stream_out")

    def run_once():
        df = (
            registered.readStream.format("rest_api")
            .schema("id BIGINT, firstName STRING, departmentId STRING")
            .option("base_url", api)
            .option("endpoint", "/users")
            .option("page_size", "10")
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    added = [
        {"id": 1000 + i, "firstName": f"late{i}", "departmentId": "D9"}
        for i in range(5)
    ]
    try:
        run_once()
        got1 = registered.read.parquet(out)
        assert got1.count() == N_USERS
        # the API gains rows between polls (append-only contract)
        USERS.extend(added)
        run_once()
        got2 = registered.read.parquet(out)
        assert got2.count() == N_USERS + 5  # ONLY the delta landed again
        late = {r.firstName for r in got2.filter(F.col("departmentId") == "D9").collect()}
        assert late == {f"late{i}" for i in range(5)}
    finally:
        del USERS[N_USERS:]  # restore module fixture state for other tests
