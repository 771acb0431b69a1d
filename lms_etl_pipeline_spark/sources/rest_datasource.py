"""Partitioned REST scan as a PySpark Python Data Source (Spark 4 API).

``sources.rest.RestSource`` is the Lambda-parity driver-side fetch; THIS is
the scale path promised in SURVEY.md §2.1 S2: a ``spark.read.format(...)``
source whose partitions are API pages fetched *in parallel on executors*,
with equality-filter pushdown translated to the API's OData-style
``_filter`` param — predicates ship to the server, rows that don't match
never cross the network.

Usage::

    spark.dataSource.register(RestApiDataSource)
    df = (spark.read.format("rest_api")
          .schema("id BIGINT, firstName STRING, departmentId STRING")
          .option("base_url", "https://lms.example")
          .option("endpoint", "/learn/api/public/v1/users")
          .option("page_size", "500")
          .load()
          .filter(F.col("departmentId") == "D1"))   # pushed to the API

Partition = one page (limit/offset).  The driver makes ONE metadata call to
learn ``totalItems``; executors fetch their page independently — no driver
bottleneck, linear scan parallelism up to the API's page count.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from lms_etl_pipeline_spark.sources.rest import api_headers, odata_filter, request_json

DEFAULT_PAGE_SIZE = 500


class _Page(InputPartition):
    def __init__(self, offset: int, limit: int):
        self.offset = offset
        self.limit = limit


class _RestOptions:
    """The reader options both REST readers share, and their one GET."""

    def __init__(self, schema, options: dict):
        self.schema = schema
        self.base_url = options["base_url"]
        self.endpoint = options["endpoint"]
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        self.rows_key = options.get("rows_key", "users")
        self.total_key = options.get("total_key", "totalItems")
        self.timeout = float(options.get("timeout", "30"))
        self.headers = api_headers(options.get("api_key", ""), options.get("token"))

    def _get(self, params: dict) -> dict:
        return request_json(f"{self.base_url}{self.endpoint}", self.headers, self.timeout, params)


class RestApiReader(_RestOptions, DataSourceReader):
    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self._pushed: dict[str, str] = {}

    # -- pushdown -----------------------------------------------------------
    def pushFilters(self, filters: Sequence) -> Iterator:
        """Translate equality predicates to the API's ``_filter`` param.

        Every filter — including the pushed ones — is yielded back so Spark
        re-applies it post-scan: REST APIs commonly ignore unknown query
        params, and a server that drops ``_filter`` would otherwise
        silently return unfiltered rows as if they matched.  Pushdown
        still prunes network traffic when the API honors it.
        """
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                self._pushed[f.attribute[0]] = str(f.value)
            yield f

    def _params(self, extra: dict) -> dict:
        p = dict(extra)
        if self._pushed:
            p["_filter"] = odata_filter(self._pushed)
        return p

    # -- planning -----------------------------------------------------------
    def partitions(self) -> list[_Page]:
        """ONE driver-side metadata call; one partition per API page."""
        meta = self._get(self._params({"limit": 1, "offset": 0}))
        total = int(meta.get(self.total_key, 0))
        n_pages = max(math.ceil(total / self.page_size), 1)
        return [_Page(i * self.page_size, self.page_size) for i in range(n_pages)]

    # -- execution (runs on executors) --------------------------------------
    def read(self, partition: _Page) -> Iterator[tuple]:
        doc = self._get(self._params({"limit": partition.limit, "offset": partition.offset}))
        fields = [f.name for f in self.schema.fields]
        for row in doc.get(self.rows_key, []):
            yield tuple(row.get(f) for f in fields)


class RestApiStreamReader(_RestOptions, SimpleDataSourceStreamReader):
    """Incremental REST polling as a Structured Streaming source.

    This is the reference pipeline's ingestion semantics — poll the LMS
    collection endpoint on a schedule, land only what's new
    (`/root/reference/src/lms_to_s3_lambda.py`'s timer-driven fetch) —
    re-expressed as a first-class streaming source: offsets are row
    positions in the collection, each microbatch covers
    ``[start, min(total, start + max_rows_per_batch))``, and replay
    (``readBetweenOffsets``) re-fetches the exact range, so checkpoint
    recovery is deterministic PROVIDED the collection is append-only with
    a stable order (the same contract limit/offset pagination itself
    assumes; a compacting API needs a cursor param instead).

    Scale posture: the simple stream reader fetches on the driver by
    design (Spark distributes the prefetched batch to executors);
    ``max_rows_per_batch`` bounds each trigger so backlog catch-up is
    incremental instead of one unbounded poll.  The partitioned
    executor-parallel path stays the batch reader above — the streaming
    reader's job is the offset ledger, not bulk throughput.
    """

    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.max_rows = int(options.get("max_rows_per_batch", "10000"))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def _fetch_range(self, lo: int, hi: int) -> Iterator[tuple]:
        fields = [f.name for f in self.schema.fields]
        off = lo
        while off < hi:
            limit = min(self.page_size, hi - off)
            doc = self._get({"limit": limit, "offset": off})
            rows = doc.get(self.rows_key, [])
            if not rows:
                return  # collection shrank below hi — stop rather than spin
            for row in rows[: hi - off]:
                yield tuple(row.get(f) for f in fields)
            off += len(rows)

    def read(self, start: dict):
        lo = int(start["offset"])
        meta = self._get({"limit": 1, "offset": 0})
        total = int(meta.get(self.total_key, 0))
        hi = min(total, lo + self.max_rows)
        if hi <= lo:
            return [], start
        # materialized, not a generator: Spark pickles the prefetched batch
        # to ship it to executors
        return list(self._fetch_range(lo, hi)), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        return list(self._fetch_range(int(start["offset"]), int(end["offset"])))


class RestApiDataSource(DataSource):
    """``format("rest_api")`` — partitioned, filter-pushing REST scans
    (batch) and offset-ledgered incremental polling (streaming)."""

    @classmethod
    def name(cls) -> str:
        return "rest_api"

    def schema(self):
        raise ValueError(
            "rest_api requires an explicit .schema(...) — inference over an "
            "API response is nondeterministic by design"
        )

    def reader(self, schema) -> RestApiReader:
        return RestApiReader(schema, self.options)

    def simpleStreamReader(self, schema) -> RestApiStreamReader:
        return RestApiStreamReader(schema, self.options)
