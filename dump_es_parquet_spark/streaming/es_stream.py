"""Continuous ES dump as a Structured Streaming source.

The reference's scroll loop is a *batch-incremental pull with a
server-held cursor* (``dump-es-parquet:259-302``) — already
streaming-shaped. This module completes the thought (SURVEY.md §2.2
"streaming" row): an ``esdump`` micro-batch stream where each batch is
a bounded run of ``search_after`` pages and the **offset is the sort
cursor** — resumable, checkpointable, replayable (the same property
that makes task retries safe in the batch scan makes exactly-once
micro-batches possible here).

Registered through the same ``esdump`` DataSource, with the batch
source's options (parsed by ``ScanOptions.from_options``):

    spark.readStream.format("esdump")
         .option("index", ...).option(...)
         .load()

Two readers share the ``esdump`` format:

- ``EsDumpStreamReader`` (default): ``SimpleDataSourceStreamReader``,
  driver-side reads over a single search_after cursor
  (``client.iter_pages_search_after``, resumed from the offset; no
  PIT, so new documents stay visible). Its ``sort`` defaults to
  ``@timestamp:asc`` because the offset is the sort cursor; ``cursor``,
  ``pit`` and ``slices`` do not apply. Correct for moderate ingest
  rates; zero executor coordination.
- ``EsDumpTimeSliceStreamReader`` (``stream_mode=timeslice``): a full
  ``DataSourceStreamReader`` whose offset is a **timestamp watermark**
  and whose micro-batches fan out over ``effective_slices`` server-side
  slices read *on executors* by ``scan.iter_slice_hits`` — the batch
  scan's slice reader, so ``cursor``/``pit`` apply as in batch — the
  scale path for log-style indices (the reference's domain is
  monitoring logs with ``@timestamp``). Each batch is the half-open
  range ``(start_ts, end_ts]`` AND-ed onto ``query`` as a Lucene range
  clause, so replay of a committed batch is deterministic on an
  append-only index.

Both readers coerce hits in Python with ``scan.coerce_hits``.
"""

from __future__ import annotations

import itertools
from typing import Iterator, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from dump_es_parquet_spark.sources.client import iter_pages_search_after, with_retry
from dump_es_parquet_spark.sources.scan import (
    DEFAULT_SORT,
    ScanOptions,
    coerce_hits,
    effective_slices,
    iter_slice_hits,
)


class EsDumpStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: offset = ``{"cursor": <sort values>|null}``;
    each batch reads up to ``pages_per_batch`` search_after pages."""

    def __init__(self, schema, options: dict):
        self.schema = schema
        self.options = options
        # the offset is the sort cursor, so a sort is always sent
        self.scan = ScanOptions.from_options(options, sort=DEFAULT_SORT)
        self.pages_per_batch = int(options.get("pages_per_batch", "4"))

    def _client(self):
        from dump_es_parquet_spark.sources.datasource import _make_client

        return _make_client(self.options)

    def initialOffset(self) -> dict:
        # None → first page omits search_after ("from the start"); a
        # literal [0] cursor would mean "after sort value 0" on a real
        # server and silently skip documents
        return {"cursor": None}

    def _read_pages(
        self, cursor, max_pages: int | None, stop_cursor=None
    ) -> Tuple[list, list]:
        """Rows of up to ``max_pages`` pages after ``cursor`` (all when
        None), stopping early once ``stop_cursor`` is reached; returns
        them with the cursor after the last page read."""
        rows: list[tuple] = []
        if stop_cursor is not None and cursor == stop_cursor:
            return rows, cursor
        # no PIT: a live cursor must see documents indexed after it
        # opened; the _id tie-breaker keeps page boundaries exact
        pages = iter_pages_search_after(
            self._client(),
            self.options["index"],
            q=self.scan.query,
            _source=self.scan.source_includes(),
            sort=self.scan.sort,
            size=self.scan.size,
            max_retries=self.scan.max_retries,
            backoff_s=self.scan.backoff_s,
            cursor=cursor,
        )
        for hits, cursor in itertools.islice(pages, max_pages):
            rows.extend(coerce_hits(hits, self.schema, self.scan))
            if stop_cursor is not None and cursor == stop_cursor:
                break
        return rows, cursor

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        rows, cursor = self._read_pages(start["cursor"], self.pages_per_batch)
        return iter(rows), {"cursor": cursor}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        """Deterministic replay for recovery: re-walk the cursor range.
        search_after cursors are resumable, so the same range yields
        the same rows (the PIT-in-production caveat applies for
        concurrently-mutating indices)."""
        rows, _ = self._read_pages(start["cursor"], None, stop_cursor=end["cursor"])
        return iter(rows)


class EsDumpTimeSliceStreamReader(DataSourceStreamReader):
    """Partitioned micro-batch reader: offset = ``{"ts": <watermark>}``
    (the last fully-ingested timestamp, inclusive; ``None`` = before
    everything).

    ``latestOffset`` probes the server for the current max timestamp
    (one size-1 sorted search — O(1) driver work per trigger); each
    batch then reads ``ts ∈ (start, end]`` as a pushed-down Lucene
    range clause, split over ``slices`` server-side slices, one
    executor task per slice (the same slice reader as the batch
    source). Assumes an append-only index whose timestamp never
    decreases — the log-shipping shape the reference dumps
    (``dump-es-parquet:219-302`` always sorts ``@timestamp``); a doc
    back-filled below a committed watermark is missed, exactly as it
    would be by the reference's next incremental dump.
    """

    def __init__(self, schema, options: dict):
        self.schema = schema
        self.options = options
        self.scan = ScanOptions.from_options(options)
        self.ts_field = options.get("ts_field", "@timestamp")

    def _client(self):
        from dump_es_parquet_spark.sources.datasource import _make_client

        return _make_client(self.options)

    @staticmethod
    def _num(v):
        try:
            f = float(v)
            return int(f) if f == int(f) else f
        except (TypeError, ValueError):
            return None

    def initialOffset(self) -> dict:
        start = self.options.get("start_ts")
        if start is not None and self._num(start) is not None:
            start = self._num(start)
        return {"ts": start}

    def latestOffset(self) -> dict:
        """Current server max timestamp — one size-1 sorted search.
        Deliberately STATELESS and monotone-with-the-server: Spark may
        call this before initialOffset (observed) and the offset it
        returns is logged before any batch runs, so a reader-side
        'rate cap' here could regress behind the checkpoint head and
        silently replay ranges. Bounding per-task work is partitions()'
        job (``chunk_seconds``), not the offset's."""
        resp = with_retry(
            lambda: self._client().search(
                self.options["index"],
                q=self.scan.query,
                _source=[self.ts_field],
                sort=f"{self.ts_field}:desc",
                size=1,
                scroll=None,
            ),
            max_retries=self.scan.max_retries,
            backoff_s=self.scan.backoff_s,
        )
        hits = resp["hits"]["hits"]
        if not hits:
            return self.initialOffset()
        sort_vals = hits[0].get("sort")
        return {"ts": sort_vals[0] if sort_vals else None}

    @staticmethod
    def _range_clause(field: str, start, end) -> str:
        # half-open (start, end]: exclusive lower bound `{` so a batch
        # never re-reads the committed watermark row, inclusive upper
        # `]` so the probed max doc lands in this batch
        lo = "*" if start is None else str(start)
        brace = "{" if start is not None else "["
        return f"{field}:{brace}{lo} TO {end}]"

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """One input partition per (time-chunk × slice). For numeric
        timestamps, ``chunk_seconds`` tiles the batch range (start,
        end] into bounded sub-ranges — so a large backfill becomes
        many bounded tasks instead of N unbounded ones. Per-task work
        is capped WITHOUT touching the offset (no replay hazard; task
        count is the knob, Spark's scheduler does the pacing)."""
        s, e = start.get("ts"), end.get("ts")
        if e is None or s == e:
            return [InputPartition((0, 1, s, e))]
        n = effective_slices(self.scan)
        chunk = self._num(self.options.get("chunk_seconds"))
        s_n, e_n = self._num(s), self._num(e)
        if chunk and s_n is not None and e_n is not None and e_n > s_n:
            bounds: list = []
            lo = s_n
            while lo < e_n:
                hi = min(lo + chunk, e_n)
                bounds.append((lo, hi))
                lo = hi
            return [
                InputPartition((i, n, lo, hi))
                for (lo, hi) in bounds
                for i in range(n)
            ]
        return [InputPartition((i, n, s, e)) for i in range(n)]

    def read(self, partition: InputPartition) -> Iterator[Tuple]:
        i, n, start, end = partition.value
        if end is None or start == end:
            return iter(())
        hits = iter_slice_hits(
            self._client(),
            self.options["index"],
            self.scan,
            i,
            n,
            extra_query=self._range_clause(self.ts_field, start, end),
        )
        return coerce_hits(hits, self.schema, self.scan)

    def commit(self, end: dict) -> None:
        pass  # nothing server-side to release: ranges are stateless
