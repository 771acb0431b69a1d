"""Output checks for the query workloads.

Every query result is evaluated through a full-column hash sink
(``xxhash64`` of every column, folded with ``bit_xor``), so no column can be
pruned away and the action yields one 64-bit fingerprint.  Fingerprints are
pinned in ``pins.json`` for the fixed catalog data; each pin was taken from a
run whose result matched the query's DuckDB oracle.  A fingerprint that
differs from its pin (another core count can reorder floating-point sums)
is settled by the oracle itself, and the new fingerprint is adopted for the
rest of the run only if the oracle agrees.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def hash_sink(df: DataFrame) -> DataFrame:
    """One-row frame holding the fingerprint of every column of ``df``."""
    cols = [
        F.to_json(F.struct(c)) if t.startswith(("map<", "struct<")) else F.col(c)
        for c, t in df.dtypes
    ]
    # bit_xor, not sum: ANSI mode makes a sum of 64-bit hashes overflow
    return df.select(F.xxhash64(*cols).alias("h")).agg(F.bit_xor("h").alias("h"))


def load_pins(data_key: dict) -> dict[str, int]:
    """Pinned fingerprints, or none if they were taken on other data."""
    try:
        with open(PINS_PATH) as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        return {}
    return dict(doc["hashes"]) if doc.get("data") == data_key else {}


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 and 0.0 are equal in SQL
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_norm(r[i])) for i in order) for r in rows)


class Oracle:
    """The engine's DuckDB twin of each query, over the same parquet files."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str], tables: tuple[str, ...]):
        import duckdb

        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def mismatch(self, name: str, df: DataFrame) -> str | None:
        """None if ``df`` equals the oracle's result as a multiset of rows."""
        if name not in self.sql:
            return f"{name} has no oracle"
        rel = self.con.sql(self.sql[name])
        if sorted(rel.columns) != sorted(df.columns):
            return f"{name}: columns {sorted(df.columns)} != oracle {sorted(rel.columns)}"
        got = _rows(df.columns, df.collect())
        want = _rows(list(rel.columns), rel.fetchall())
        if got != want:
            return f"{name}: {len(got)} rows differ from the oracle's {len(want)}"
        return None

    def close(self) -> None:
        self.con.close()


class Checker:
    """Decides whether a query's fingerprint is a correct result."""

    def __init__(self, pins: dict[str, int], oracle_factory):
        self.pins = dict(pins)
        self._oracle_factory = oracle_factory
        self._oracle: Oracle | None = None
        self.oracle_checks = 0

    def check(self, name: str, fingerprint: int, rebuild) -> str | None:
        """None if correct.  ``rebuild()`` returns a fresh result frame for
        the oracle comparison, which runs outside any timed region."""
        if self.pins.get(name) == fingerprint:
            return None
        if self._oracle is None:
            self._oracle = self._oracle_factory()
        self.oracle_checks += 1
        problem = self._oracle.mismatch(name, rebuild())
        if problem is None:
            self.pins[name] = fingerprint
        return problem

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()
