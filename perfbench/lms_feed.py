"""Seeded LMS user feed for the ``etl_upsert`` workload, its REST stub, and
the expected state of the target table.

Each cycle the generator emits

- a feed snapshot for ``pipeline.run_extract``: about 80% keys already in
  the table with changed fields and about 20% new keys (the first snapshot
  is all new).  About 10% of the date fields are ISO strings, which the
  load's format-strict parse turns into NULL; about 5% of ``externalId``
  values are NULL, which the load fills with ``' '``; ``customFields`` is
  a nested object whose fields are each NULL about 30% of the time;
- delta parquet files for the streaming load, typed like the target table,
  with disjoint keys, NULL ``illum_id`` and NULL dates mixed in.

The generator keeps the row every key should hold once a cycle has been
applied, so the table can be checked value by value.  The engine sees only
the served JSON and the parquet files.
"""

from __future__ import annotations

import json
import random
import sqlite3
import threading
from datetime import datetime, timedelta
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

TABLE = "department_members"
KEY = "lms_user_id"
DATE_COLUMNS = ("date_hired", "date_terminated", "last_login_date")
COLUMNS = (
    KEY, "illum_id", "first_name", "last_name", "email", "department_id",
    *DATE_COLUMNS, "is_active", "custom_fields",
)
CUSTOM_FIELDS = ("cohort", "mentor", "level")

_S = T.StringType()
API_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("externalId", _S),
    T.StructField("firstName", _S),
    T.StructField("lastName", _S),
    T.StructField("emailAddress", _S),
    T.StructField("departmentId", _S),
    T.StructField("dateHired", _S),
    T.StructField("dateTerminated", _S),
    T.StructField("lastLoginDate", _S),
    T.StructField("isActive", T.BooleanType()),
    T.StructField("customFields", T.StructType([T.StructField(f, _S) for f in CUSTOM_FIELDS])),
])
#: the snapshot as written: renamed, custom fields packed last, all text
CSV_SCHEMA = T.StructType([T.StructField(c, T.LongType() if c == KEY else _S) for c in COLUMNS])
TARGET_SCHEMA = T.StructType([
    T.StructField(c, T.LongType() if c == KEY else T.BooleanType() if c == "is_active" else _S)
    for c in COLUMNS
])
DELTA_SCHEMA = T.StructType([
    T.StructField(c, T.TimestampType() if c in DATE_COLUMNS else f.dataType)
    for c, f in zip(COLUMNS, TARGET_SCHEMA.fields)
])
_DELTA_ARROW = pa.schema(
    [(KEY, pa.int64())]
    + [(c, pa.string()) for c in COLUMNS[1:6]]
    + [(c, pa.timestamp("us", tz="UTC")) for c in DATE_COLUMNS]
    + [("is_active", pa.bool_()), ("custom_fields", pa.string())]
)

_FIRST = ("Ann", "Bob", "Chen", "Dana", "Eve", "Femi", "Gus", "Hana", "Ivan", "Jo")
_LAST = ("Ng", "Diaz", "Okafor", "Smith", "Kowalski", "Tanaka", "Silva", "Berg")
_DEPTS = tuple(f"D{i:02d}" for i in range(12))
_CUSTOM = {"cohort": ("A", "B", "C"), "mentor": ("ann", "bob", "chen"), "level": ("1", "2", "3")}


def create_table(path: str) -> None:
    con = sqlite3.connect(path)
    try:
        cols = ", ".join(
            f"{c} INTEGER PRIMARY KEY" if c == KEY else f"{c} INTEGER" if c == "is_active" else f"{c} TEXT"
            for c in COLUMNS
        )
        con.execute(f"CREATE TABLE {TABLE} ({cols})")
        con.commit()
    finally:
        con.close()


def connect(path: str) -> sqlite3.Connection:
    """Connection factory the sinks call on executors (module level, so it
    pickles by reference)."""
    return sqlite3.connect(path, timeout=60)


class LmsFeed:
    """Generates cycles and tracks the expected table state."""

    def __init__(self, seed: int, snapshot_rows: int, delta_files: int, delta_rows: int):
        self.rng = random.Random(seed)
        self.snapshot_rows = snapshot_rows
        self.delta_files = delta_files
        self.delta_rows = delta_rows
        self.expected: dict[int, tuple] = {}
        self.next_key = 1

    # -- values ---------------------------------------------------------------
    def _when(self) -> datetime:
        return datetime(2015, 1, 1) + timedelta(seconds=self.rng.randrange(10 * 365 * 86_400))

    def _fresh_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _pick_keys(self, n_existing: int, n_new: int) -> list[int]:
        have = sorted(self.expected)
        keys = self.rng.sample(have, min(n_existing, len(have))) + self._fresh_keys(n_new)
        self.rng.shuffle(keys)
        return keys

    def _custom(self) -> dict[str, str | None]:
        return {
            f: (None if self.rng.random() < 0.3 else self.rng.choice(_CUSTOM[f]))
            for f in CUSTOM_FIELDS
        }

    def _person(self, key: int) -> dict:
        first, last = self.rng.choice(_FIRST), self.rng.choice(_LAST)
        return {
            "first": first,
            "last": last,
            "email": f"{first}.{last}{key}@example.edu".lower(),
            "dept": self.rng.choice(_DEPTS),
            "active": self.rng.random() < 0.8,
            "custom": self._custom(),
        }

    # -- snapshot (REST feed) ----------------------------------------------------
    def snapshot(self) -> tuple[bytes, dict]:
        """Next feed snapshot as the stub's JSON body, plus its truth counts.
        The expected state is advanced to what a correct load leaves."""
        n_new = self.snapshot_rows if not self.expected else self.snapshot_rows // 5
        keys = self._pick_keys(self.snapshot_rows - n_new, n_new)
        users, iso_dates, null_ext = [], 0, 0
        for key in keys:
            p = self._person(key)
            dates, expected_dates = [], []
            for _ in DATE_COLUMNS:
                when = self._when()
                if self.rng.random() < 0.1:
                    dates.append(when.strftime("%Y-%m-%dT%H:%M:%S"))
                    expected_dates.append(None)
                    iso_dates += 1
                else:
                    dates.append(when.strftime("%m-%d-%Y %H:%M:%S"))
                    expected_dates.append(when.isoformat(" "))
            ext = None if self.rng.random() < 0.05 else f"ext-{key}"
            null_ext += ext is None
            users.append({
                "id": key,
                "externalId": ext,
                "firstName": p["first"],
                "lastName": p["last"],
                "emailAddress": p["email"],
                "departmentId": p["dept"],
                "dateHired": dates[0],
                "dateTerminated": dates[1],
                "lastLoginDate": dates[2],
                "isActive": p["active"],
                "customFields": p["custom"],
            })
            self.expected[key] = (
                key, ext if ext is not None else " ", p["first"], p["last"], p["email"],
                p["dept"], *expected_dates, int(p["active"]),
                {k: v for k, v in p["custom"].items() if v is not None},
            )
        n = len(users)
        body = json.dumps(
            {"totalItems": n, "limit": n, "offset": 0, "returnedItems": n, "users": users}
        ).encode()
        return body, {"rows": n, "keys": keys, "null_coerced": iso_dates, "null_external_id": null_ext}

    # -- deltas (streaming landing files) ------------------------------------------
    def write_deltas(self, landing_dir: str, cycle: int) -> int:
        """Write this cycle's delta files into ``landing_dir``; returns rows."""
        per_file = self.delta_rows
        n_total = per_file * self.delta_files
        n_new = n_total // 10
        keys = self._pick_keys(n_total - n_new, n_new)
        for i in range(self.delta_files):
            rows = {c: [] for c in COLUMNS}
            for key in keys[i * per_file:(i + 1) * per_file]:
                p = self._person(key)
                ext = None if self.rng.random() < 0.05 else f"ext-{key}"
                dates = [None if self.rng.random() < 0.1 else self._when() for _ in DATE_COLUMNS]
                custom = {k: v for k, v in p["custom"].items() if v is not None}
                cf = None if self.rng.random() < 0.1 else json.dumps(custom, separators=(",", ":"))
                values = (key, ext, p["first"], p["last"], p["email"], p["dept"], *dates, p["active"], cf)
                for c, v in zip(COLUMNS, values):
                    rows[c].append(v)
                self.expected[key] = (
                    key, ext, p["first"], p["last"], p["email"], p["dept"],
                    *(d.isoformat(" ") if d else None for d in dates),
                    int(p["active"]), custom if cf is not None else None,
                )
            table = pa.table(rows, schema=_DELTA_ARROW)
            pq.write_table(table, f"{landing_dir}/delta-{cycle:05d}-{i:02d}.parquet")
        return n_total


def check_table(db_path: str, expected: dict[int, tuple]) -> list[str]:
    """Compare the target table with the expected state; returns problems."""
    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(f"SELECT {', '.join(COLUMNS)} FROM {TABLE}").fetchall()
    finally:
        con.close()
    problems = []
    if len(rows) != len(expected):
        problems.append(f"{TABLE} has {len(rows)} rows, expected {len(expected)}")
    null_dates = expected_null_dates = 0
    for row in rows:
        want = expected.get(row[0])
        null_dates += sum(v is None for v in row[6:9])
        got = row[:-1] + (None if row[-1] is None else json.loads(row[-1]),)
        if want != got:
            problems.append(f"key {row[0]}: got {got!r}, expected {want!r}")
            if len(problems) > 5:
                break
    for want in expected.values():
        expected_null_dates += sum(v is None for v in want[6:9])
    if null_dates != expected_null_dates:
        problems.append(f"{null_dates} NULL dates, expected {expected_null_dates}")
    return problems


class FeedServer:
    """The LMS REST API stub: one server thread answering every GET with the
    current snapshot body."""

    def __init__(self):
        feed = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                body = feed.body
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.body = b"{}"
        self.httpd = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)
