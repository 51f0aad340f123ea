"""CMR granule search: E1's day scan and the ``format("cmr")`` source.

The reference's catalog scan (A1, cmr_api.py:43-71) is an async
generator that builds a query URL with collection/bbox/temporal
parameters (the predicates are *compiled into the source request* —
textbook pushdown, cmr_api.py:28-40) and pages through results with
the ``cmr-search-after`` cursor.

Here one reader, :class:`CmrReader`, owns that scan: the day windows,
cursor paging, per-page retries and the midnight rule of
:func:`_on_day`. Two entry points run it:

- :func:`scan_cmr`, E1's batch scan: an explicit list of UTC days is
  packed into ``min(n_days, defaultParallelism)`` contiguous runs
  whose lengths differ by at most one day (:func:`pack_days`), and
  one ``mapInArrow`` task reads each run, walking its days in order
  and paging through every day with that day's own cursor. Catalog
  concurrency is as with one task per day: at most cores-many tasks
  run at once, each querying one day at a time. The tasks run in the
  session's ordinary Python workers. A ``format("cmr")`` read would
  first start Spark's Python Data Source planner daemons (source
  lookup, creation and filter pushdown), each a new Python process
  that compiles pyspark from Spark's ``pyspark.zip``, which ships no
  ``.pyc``: about 6 of a first E1 call's 23-26 CPU-s on 4 vCPU. The
  reference's SNS/SQS/Lambda fan-out (A22/A24) collapses into the
  task list; retries become ``spark.task.maxFailures``.
- ``spark.read.format("cmr")`` / ``readStream.format("cmr")``, a thin
  Data Source adapter over the same reader for the CLI's streaming
  ingest and ad-hoc reads. :meth:`CmrReader.pushFilters` accepts
  EqualTo(collection_concept_id) and time_start/time_end range
  filters and folds them into the request, so Catalyst's pushdown
  reaches the REST catalog exactly like the hand-built query did; a
  temporal range is packed into runs as above, capped by the
  ``defaultParallelism`` that :func:`register_cmr_source` binds.

Offline mode (``fixture_dir``) reads cassette-style JSON fixtures
(one ``{"feed": {"entry": [...]}}`` file per day) — the unit-test
path, mirroring the reference's VCR cassettes.

Network access uses stdlib urllib only, and only when ``endpoint``
is explicitly configured — no implicit egress.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from hls_stac_parquet_spark.model import CMR_GRANULE_SCHEMA
from hls_stac_parquet_spark.sources.retry import request_with_retries

PAGE_SIZE = 2000  # granules per request: the CMR hard cap (cmr_api.py:44,55)


class _DaysPartition(InputPartition):
    def __init__(self, days: list[str]):
        self.days = days


def pack_days(days: list[str], max_partitions: int) -> list[list[str]]:
    """Split ordered ``days`` into ``min(len(days), max_partitions)``
    contiguous runs whose lengths differ by at most one."""
    total = len(days)
    n = min(total, max_partitions)
    return [days[k * total // n:(k + 1) * total // n] for k in range(n)]


def _fixture_days(fixture_dir: str) -> list[str]:
    """The days that have a fixture file in ``fixture_dir``, in order."""
    return sorted(f[:-5] for f in os.listdir(fixture_dir) if f.endswith(".json"))


def _day_range(start: dt.date, stop: dt.date) -> list[str]:
    """ISO days from ``start`` up to, not including, ``stop``."""
    return [
        (start + dt.timedelta(days=i)).isoformat()
        for i in range((stop - start).days)
    ]


def _on_day(entry: dict, day: str) -> bool:
    """A granule belongs to the day of its ``time_start``. A catalog
    day query matches every granule that *overlaps* the day, so one
    spanning midnight comes back for both days; this keeps it in its
    first day only, in the fixture and HTTP modes alike."""
    return day == "all" or (entry.get("time_start") or "")[:10] in ("", day)


class CmrReader(DataSourceReader):
    def __init__(
        self,
        schema: StructType,
        options: dict,
        max_partitions: int = 1,
    ):
        self.schema = schema
        self.options = options
        self.max_partitions = max_partitions
        self.collection = options.get("collection_concept_id")
        self.temporal_start = options.get("temporal_start")
        self.temporal_end = options.get("temporal_end")
        self.bbox = options.get("bbox")  # "w,s,e,n"
        self.fixture_dir = options.get("fixture_dir")
        self.endpoint = options.get("endpoint")

    # --- Catalyst filter pushdown (A2/A4) -------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Fold supported predicates into the catalog request; return
        the rest for Spark to evaluate post-scan."""
        unsupported = []
        for f in filters:
            col = f.attribute[-1] if hasattr(f, "attribute") else None
            if isinstance(f, EqualTo) and col == "collection_concept_id":
                self.collection = f.value
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and col == "time_start":
                self.temporal_start = str(f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)) and col == "time_end":
                self.temporal_end = str(f.value)
            else:
                unsupported.append(f)
        return unsupported

    # --- partition planning: runs of days, ≤ max_partitions (A22) -------
    def partitions(self) -> list[InputPartition]:
        if self.temporal_start and self.temporal_end:
            end = dt.date.fromisoformat(self.temporal_end[:10])
            days = _day_range(
                dt.date.fromisoformat(self.temporal_start[:10]),
                end + dt.timedelta(days=1),
            )
        elif self.fixture_dir:
            days = _fixture_days(self.fixture_dir)
        else:
            return [_DaysPartition(["all"])]
        return [_DaysPartition(r) for r in pack_days(days, self.max_partitions)]

    # --- scan ----------------------------------------------------------------
    def read(self, partition: _DaysPartition) -> Iterator[tuple]:
        if self.fixture_dir:
            read_day = self._read_fixture
        elif self.endpoint:
            read_day = self._read_http
        else:
            raise ValueError(
                "cmr source needs either fixture_dir (offline) or endpoint"
            )
        for day in partition.days:
            yield from read_day(day)

    def _entry_to_row(self, entry: dict) -> tuple:
        links = entry.get("links") or None
        if links is not None:
            links = [
                (
                    (l or {}).get("rel"),
                    (l or {}).get("title"),
                    (l or {}).get("hreflang"),
                    (l or {}).get("href"),
                )
                for l in links
            ]
        return tuple(
            links
            if f.name == "links"
            else None
            if f.name == "_corrupt_record"
            else entry.get(f.name)
            for f in self.schema.fields
        )

    def _matches(self, entry: dict, day: str) -> bool:
        """Residual source-side filtering for fixtures: mimic what the
        real catalog applies server-side for the pushed predicates."""
        if self.collection and entry.get("collection_concept_id") != self.collection:
            return False
        return _on_day(entry, day)

    def _read_fixture(self, day: str) -> Iterator[tuple]:
        path = os.path.join(self.fixture_dir, f"{day}.json")
        if not os.path.exists(path):
            return
        with open(path) as fh:
            data = json.load(fh)
        for entry in data.get("feed", {}).get("entry", []):
            if self._matches(entry, day):
                yield self._entry_to_row(entry)

    def _read_http(self, day: str) -> Iterator[tuple]:
        """Cursor-paginated scan of one day window (cmr_api.py:55-71):
        PAGE_SIZE-capped GETs following the ``cmr-search-after``
        header until exhausted. stdlib urllib; a packed task walks its
        days one after another, so total concurrency = number of
        partitions running (≤ cores, as with one task per day).

        The window runs from the day's midnight to the next one, so
        every granule starting on the day overlaps it; :func:`_on_day`
        then drops those that started the day before."""
        import urllib.parse
        import urllib.request

        params = {
            "page_size": str(PAGE_SIZE),
        }
        if self.collection:
            params["collection_concept_id[]"] = self.collection
        if day != "all":
            next_day = dt.date.fromisoformat(day) + dt.timedelta(days=1)
            params["temporal[]"] = f"{day}T00:00:00Z,{next_day}T00:00:00Z"
        elif self.temporal_start and self.temporal_end:
            params["temporal[]"] = f"{self.temporal_start},{self.temporal_end}"
        if self.bbox:
            params["bounding_box"] = self.bbox

        search_after = None
        while True:
            url = f"{self.endpoint}?{urllib.parse.urlencode(params)}"

            # per-page retry with backoff (sources/retry.py): a
            # transient 429/503 re-fetches THIS page, not the whole
            # day partition via Spark task retry — mirroring the
            # reference control plane's SQS redrive + Batch retries
            # (hls-batch-stack.ts:138-141,294).
            def send(cursor=search_after):
                req = urllib.request.Request(
                    url, headers={"client-id": "hls_stac_parquet_spark"}
                )
                if cursor:
                    req.add_header("cmr-search-after", cursor)
                with urllib.request.urlopen(req, timeout=60) as resp:
                    return resp.status, resp.read(), dict(resp.headers)

            status, body, hdrs = request_with_retries(send)
            if status != 200:
                raise IOError(f"CMR search: HTTP {status} {body[:200]!r}")
            search_after = next(
                (
                    v
                    for k, v in hdrs.items()
                    if k.lower() == "cmr-search-after"
                ),
                None,
            )
            data = json.loads(body.decode())
            entries = data.get("feed", {}).get("entry", [])
            for entry in entries:
                if _on_day(entry, day):
                    yield self._entry_to_row(entry)
            if not search_after or not entries:
                return


def scan_cmr(spark: SparkSession, days: list[str], options: dict) -> DataFrame:
    """The granules of ``days`` (ISO dates), read by :class:`CmrReader`
    with ``options`` (``collection_concept_id``, ``bbox`` and either
    ``fixture_dir`` or ``endpoint``) in one ``mapInArrow`` task per
    :func:`pack_days` run, at most ``defaultParallelism`` of them.
    Each task sends its rows on in batches of ``PAGE_SIZE``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    runs = pack_days(days, spark.sparkContext.defaultParallelism)
    reader = CmrReader(CMR_GRANULE_SCHEMA, options)
    arrow_schema = to_arrow_schema(CMR_GRANULE_SCHEMA)

    def read_runs(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                rows = reader.read(_DaysPartition(runs[i]))
                while chunk := list(itertools.islice(rows, PAGE_SIZE)):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(column, field.type)
                            for column, field in zip(zip(*chunk), arrow_schema)
                        ],
                        schema=arrow_schema,
                    )

    return spark.range(len(runs), numPartitions=len(runs)).mapInArrow(
        read_runs, CMR_GRANULE_SCHEMA
    )


class CmrDataSource(DataSource):
    """``spark.read.format("cmr")`` — see module docstring.

    ``max_partitions`` caps the batch scan's partition count;
    :func:`register_cmr_source` registers a subclass that binds it to
    the session's ``defaultParallelism``."""

    max_partitions: int = 1

    @classmethod
    def name(cls) -> str:
        return "cmr"

    def schema(self) -> StructType:
        return CMR_GRANULE_SCHEMA

    def reader(self, schema: StructType) -> CmrReader:
        return CmrReader(schema, self.options, self.max_partitions)

    def simpleStreamReader(self, schema: StructType) -> "CmrStreamReader":
        return CmrStreamReader(schema, self.options)


def register_cmr_source(spark) -> None:
    """Register ``format("cmr")`` with its batch scan capped at the
    session's ``defaultParallelism``. The planner runs in a Python
    worker with no SparkContext, so the cap travels as a class
    attribute of the registered (pickled-by-value) subclass."""

    class SizedCmrDataSource(CmrDataSource):
        max_partitions = spark.sparkContext.defaultParallelism

    spark.dataSource.register(SizedCmrDataSource)


class CmrStreamReader(SimpleDataSourceStreamReader):
    """Incremental daily-ingest stream over the CMR catalog fixtures —
    the reference's event path E3 (batch_publisher → one SNS message
    per day → per-day Lambda job, infrastructure/lambda/
    batch_publisher.py:121-169) collapsed into a Structured Streaming
    source: the offset IS the day cursor, a checkpoint replaces the
    skip-existing HEAD probe (links.py:100-103), and replay between
    committed offsets is deterministic by construction (day files are
    immutable once written).

    Use with ``spark.readStream.format("cmr")`` +
    ``Trigger.AvailableNow`` for catch-up-then-stop daily ingest.
    Offsets are ``{"next_day": "YYYY-MM-DD"}``.

    Two modes, mirroring the batch reader:

    - ``fixture_dir`` (offline/tests): each microbatch consumes every
      fixture day ≥ the cursor that exists at read time.
    - ``endpoint`` (live): each trigger polls the catalog for the
      COMPLETE UTC days ≥ the cursor (a day is complete once it is
      strictly before today — in-flight days are never consumed, so
      replay between committed offsets stays deterministic as long as
      the catalog is append-only for past days, the same assumption
      the reference's daily batch makes). ``start_day`` is required;
      ``max_days_per_batch`` (default 30) bounds a catch-up batch.
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.fixture_dir = options.get("fixture_dir")
        self.endpoint = options.get("endpoint")
        if not self.fixture_dir and not self.endpoint:
            raise ValueError(
                "cmr streaming needs fixture_dir (offline) or endpoint "
                "(live polling)"
            )
        self.start_day = options.get("start_day", "")
        if self.endpoint and not self.fixture_dir and not self.start_day:
            raise ValueError("endpoint-mode cmr streaming needs start_day")
        self.max_days_per_batch = max(
            1, int(options.get("max_days_per_batch", 30))
        )
        # test seam: pin "today" so complete-day cutoff is deterministic
        self._today_override = options.get("clock_today")
        # reuse the batch reader's row conversion + residual filters
        self._batch = CmrReader(schema, options)

    def _today(self) -> str:
        if self._today_override:
            return self._today_override
        return dt.datetime.now(dt.timezone.utc).date().isoformat()

    def _available_days(self, cursor: str) -> list[str]:
        """Days ≥ cursor ready to consume, in order, capped per batch."""
        if self.fixture_dir:
            days = [d for d in _fixture_days(self.fixture_dir) if d >= cursor]
        elif not cursor:
            return []
        else:
            days = _day_range(
                dt.date.fromisoformat(cursor),
                dt.date.fromisoformat(self._today()),
            )
        return days[: self.max_days_per_batch]

    def initialOffset(self) -> dict:
        return {"next_day": self.start_day}

    def read(self, start: dict):
        days = self._available_days(start["next_day"])
        if not days:
            return [], start
        end = {"next_day": (
            dt.date.fromisoformat(days[-1]) + dt.timedelta(days=1)
        ).isoformat()}
        return self._rows(days), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay: re-fetch exactly the committed [start, end) day range
        if self.fixture_dir:
            days = _fixture_days(self.fixture_dir)
        else:
            days = _day_range(
                dt.date.fromisoformat(start["next_day"]),
                dt.date.fromisoformat(end["next_day"]),
            )
        days = [d for d in days if start["next_day"] <= d < end["next_day"]]
        # MUST be an iterator: unlike read() (driver-side, list is
        # fine for the prefetch cache), readBetweenOffsets executes
        # on the EXECUTOR during crash-recovery replay, where the
        # data-source worker rejects a list return. Returning a list
        # here made every restart-after-failure die with
        # DATA_SOURCE_INVALID_RETURN_TYPE (caught by
        # tests/test_streaming.py::test_cmr_stream_kill_and_resume_…).
        return iter(self._rows(days))

    def _rows(self, days: list[str]) -> list:
        # materialized list, not a generator: the prefetching cache
        # copy.copy()s the iterator on partition planning, and daily
        # manifests are control-plane-sized by construction
        return list(self._batch.read(_DaysPartition(days)))


