"""Parallel scan: ES index (pattern) → DataFrame.

The reference scans one sequential scroll per index
(``dump-es-parquet:219-302``) — client parallelism 1. Here the scan is
*sliced*: the index is split into N server-side slices (sliced PIT
or scroll), one Spark task per slice, each task running its own cursor
loop (``iter_slice_hits``, shared with the ``esdump`` source) on an
executor. That moves the reference's only thread/node boundary (HTTP
round-trips) onto the cluster and is what makes a 100 TB dump
feasible — N tasks × pages instead of one cursor.

``slices`` is an upper bound. Every typed read (``read_index``, and so
``read_pattern`` and ``pipeline.dump``) sends one driver-side probe per
index (``probe_index``): an unsorted first page whose ``hits.total``
caps the slice count at ⌈total ÷ size⌉ (``effective_slices``), and
whose docs ``pipeline.dump`` sizes its files from. A 300-doc index is
read as one slice — one PIT, one task, one output file — while a large
index keeps every slice. ``read_index`` is the one typed per-index
read: probe, schema, scan, coercion (built once per mapping through the
caller's cache) and sort.

Pushdown parity (SURVEY.md ops #7-#10): ``query`` (Lucene
query_string), ``fields`` (``_source`` includes, wildcards), ``sort``
(``field:dir`` pairs, default ``@timestamp:asc``) and ``size`` (scroll
page size) are sent verbatim to the server, exactly as the reference
sends them (``:219-238``).

Global order (SURVEY.md §7 hard part 1): a sliced scan is only ordered
*within* each slice. ``order='global'`` re-sorts in Spark before
returning (correct, costs a shuffle — Spark range-partitions then sorts
per partition, which scales); ``order='slice'`` documents per-slice
order and skips the shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dump_es_parquet_spark.coerce import parse_and_coerce
from dump_es_parquet_spark.coerce_py import coerce_doc, flatten_doc
from dump_es_parquet_spark.schema import mapping_response_to_struct
from dump_es_parquet_spark.sources.client import (
    iter_hits,
    iter_hits_search_after,
    with_retry,
)

DEFAULT_SORT = "@timestamp:asc"  # reference default (dump-es-parquet:380)


@dataclass
class ScanOptions:
    query: str | None = None  # --query (reference :385)
    fields: str | None = None  # --fields, comma-sep, wildcards (:386-387)
    sort: str | None = DEFAULT_SORT  # --sort (:380)
    size: int = 500  # --size, page size (:379)
    scroll: str = "1h"  # --scroll, cursor TTL (:382)
    # DEFAULT is the retry-idempotent cursor: a scroll id is
    # consumed-once server state, so a retried Spark task can skip or
    # duplicate pages; search_after's sort-key cursor re-requests
    # exactly where the last good page ended, composing with
    # spark.task.maxFailures (the scale-safe design, SURVEY §4).
    # 'scroll' remains the reference-parity option (dump-es-parquet:224).
    cursor: str = "search_after"  # 'search_after' (default) | 'scroll'
    # search_after mode only: open a point-in-time per slice for
    # snapshot isolation matching scroll mode (needs ES≥7.10/OS≥2.4)
    pit: bool = True
    slices: int = 8  # engine extension: scan parallelism
    flatten: bool = False  # --flatten (:388-390)
    multivalue: str = "first"  # 'first' (reference) | 'array'
    order: str = "slice"  # 'slice' | 'global'
    max_retries: int | None = 3
    backoff_s: float = 1.0

    def source_includes(self) -> list[str] | None:
        return [f.strip() for f in self.fields.split(",")] if self.fields else None

    @classmethod
    def from_options(cls, options: dict, sort: str | None = None) -> "ScanOptions":
        """The ``esdump`` source's string options, parsed. Unset ones
        keep the field defaults, except ``sort``, which defaults to ``sort``."""
        d = cls()
        return cls(
            query=options.get("query"),
            fields=options.get("fields"),
            sort=options.get("sort", sort),
            size=int(options.get("size", d.size)),
            scroll=options.get("scroll", d.scroll),
            cursor=options.get("cursor", d.cursor),
            pit=options.get("pit", "true") != "false",
            slices=int(options.get("slices", d.slices)),
            flatten=options.get("flatten", "false") == "true",
            multivalue=options.get("multivalue", d.multivalue),
        )


def effective_slices(opts: ScanOptions, total: int | dict | None = None) -> int:
    """The slice count of a scan; every partition-count decision goes
    through here.

    Real ES rejects the ``slice`` parameter on a plain search — slicing
    needs a PIT or scroll context. ``search_after`` without PIT
    (``--no-pit``, pre-7.10 servers) therefore runs single-slice, so N
    unsliced scans can never each read the whole index.

    ``total`` is a search response's ``hits.total`` for the scan's
    query (``probe_index``). When it is exact — an ES6 integer, or
    relation ``eq`` — ``opts.slices`` is capped at ⌈total ÷ size⌉: a
    slice that cannot fill one page costs a PIT, a task and an output
    file while reading next to nothing. A ``gte`` lower bound, or no
    total, leaves ``opts.slices`` as it is; the cap only ever lowers
    the count."""
    if opts.cursor == "search_after" and not opts.pit:
        return 1
    n = max(1, opts.slices)
    exact = _exact_total(total)
    if exact is not None:
        n = min(n, max(1, -(-exact // max(1, opts.size))))
    return n


def _exact_total(total: int | dict | None) -> int | None:
    """The hit count ``hits.total`` states exactly, else None: ES6
    sends an integer, ES7+/OpenSearch ``{"value", "relation"}`` where
    ``gte`` marks a lower bound (``track_total_hits``)."""
    if isinstance(total, int) and not isinstance(total, bool):
        return total
    if isinstance(total, dict) and total.get("relation") == "eq":
        return int(total["value"])
    return None


def and_query(*clauses: str | None) -> str | None:
    """Lucene conjunction of the non-empty ``clauses``. With more than
    one, each is parenthesized: Lucene binds AND tighter than OR, so an
    unparenthesized user query 'a:1 OR b:2' joined with 'c:3' would
    parse as 'a:1 OR (b:2 AND c:3)'."""
    present = [c for c in clauses if c]
    if len(present) <= 1:
        return present[0] if present else None
    return " AND ".join(f"({c})" for c in present)


def iter_slice_hits(
    client,
    index: str,
    opts: ScanOptions,
    slice_id: int,
    n_slices: int,
    extra_query: str | None = None,
) -> Iterator[dict]:
    """Raw hits of slice ``slice_id`` of ``n_slices`` (from
    ``effective_slices``) with ``opts`` pushed to the server as the
    reference pushes them (``:219-238``); ``extra_query`` is AND-ed
    onto ``opts.query``."""
    common = dict(
        q=and_query(opts.query, extra_query),
        _source=opts.source_includes(),
        sort=opts.sort,
        size=opts.size,
        slice_spec={"id": slice_id, "max": n_slices} if n_slices > 1 else None,
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    if opts.cursor == "scroll":
        return iter_hits(client, index, scroll=opts.scroll, **common)
    # the PIT's keep_alive is the same TTL knob as the scroll's
    return iter_hits_search_after(
        client, index, pit=opts.pit, keep_alive=opts.scroll, **common
    )


def coerce_hits(hits, schema, opts: ScanOptions) -> Iterator[tuple]:
    """Rows of ``schema`` from raw hits, coerced in Python
    (``coerce_py``) by the readers that build rows themselves."""
    for hit in hits:
        src = hit["_source"]
        src = flatten_doc(src) if opts.flatten else src
        yield coerce_doc(src, schema, opts.multivalue)


def _slice_reader(
    client_factory: Callable[[], object],
    index: str,
    opts: ScanOptions,
    n_slices: int,
):
    """Returns the per-partition function executed on executors: reads
    its slices, emits raw ``_source`` JSON strings."""
    import json

    def read_slices(slice_ids: Iterator[int]) -> Iterator[str]:
        client = client_factory()
        for sid in slice_ids:
            for hit in iter_slice_hits(client, index, opts, sid, n_slices):
                # only _source is read; ES metadata is discarded
                # (reference :243, 247, 252)
                yield json.dumps(hit["_source"])

    return read_slices


def probe_index(client, index: str, opts: ScanOptions) -> tuple[list[dict], int | dict | None]:
    """One driver-side search of ``index`` under ``opts.query`` before
    its scan: an unsorted first page, no cursor, no PIT, no Spark job.
    Returns the page's ``_source`` docs (a row-width sample for the
    sink's file bound) and the response's ``hits.total`` (for
    ``effective_slices``)."""
    resp = with_retry(
        lambda: client.search(
            index,
            q=opts.query,
            _source=opts.source_includes(),
            sort=None,
            size=min(1000, opts.size),
            scroll=None,
        ),
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    hits = resp.get("hits", {})
    return [h.get("_source", {}) for h in hits.get("hits", [])], hits.get("total")


def expand_pattern(client, pattern: str, opts: ScanOptions) -> list[str]:
    """Index pattern → concrete names (reference get_indices,
    ``:341-350``)."""
    settings = with_retry(
        lambda: client.get_settings(pattern),
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )
    return sorted(settings.keys())


def fetch_mapping(client, index: str, opts: ScanOptions) -> dict:
    """The index's ``get_mapping`` response."""
    return with_retry(
        lambda: client.get_mapping(index),
        max_retries=opts.max_retries,
        backoff_s=opts.backoff_s,
    )


def fetch_schema(client, index: str, opts: ScanOptions):
    return mapping_response_to_struct(
        fetch_mapping(client, index, opts),
        flatten=opts.flatten,
        multivalue=opts.multivalue,
    )


def read_index_raw(
    spark: SparkSession,
    client_factory: Callable[[], object],
    index: str,
    opts: ScanOptions | None = None,
    total: int | dict | None = None,
) -> DataFrame:
    """Schemaless scan → ``DataFrame[value: string]`` of raw ``_source``
    JSON (the reference's ``build_df=False`` raw path, ``:244-253``).

    One Spark partition per server-side slice; per-partition imperative
    IO is the one place RDD usage is warranted (SURVEY.md §7).
    ``total``, the index's ``hits.total`` from ``probe_index``, caps
    the slice count (``effective_slices``).
    """
    opts = opts or ScanOptions()
    n = effective_slices(opts, total)
    rdd = spark.sparkContext.parallelize(range(n), n).mapPartitions(
        _slice_reader(client_factory, index, opts, n)
    )
    return spark.createDataFrame(rdd.map(lambda v: (v,)), "value string")


def read_index(
    spark: SparkSession,
    client_factory: Callable[[], object],
    index: str,
    opts: ScanOptions | None = None,
    *,
    probe: tuple[list[dict], int | dict | None] | None = None,
    observation: Observation | None = None,
    cache: dict | None = None,
) -> DataFrame:
    """Typed scan of one index (reference ``process_index``,
    ``:214-310``): the mapping-derived schema, a scan whose slices the
    probe's ``hits.total`` caps, the coercion pipeline and, for
    ``order='global'``, the sort.

    ``probe`` is ``probe_index``'s result when the caller already sent
    it (``pipeline.dump`` sizes its files from it); otherwise the index
    is probed here. ``observation`` and ``cache`` go to
    ``parse_and_coerce``."""
    opts = opts or ScanOptions()
    _, total = probe or probe_index(client_factory(), index, opts)
    schema = fetch_schema(client_factory(), index, opts)
    raw = read_index_raw(spark, client_factory, index, opts, total)
    df = parse_and_coerce(
        raw,
        schema,
        flatten=opts.flatten,
        multivalue=opts.multivalue,
        observation=observation,
        cache=cache,
    )
    return _ordered(df, opts)


def _ordered(df: DataFrame, opts: ScanOptions) -> DataFrame:
    """``df`` sorted by ``opts.sort`` when ``opts.order`` is
    ``'global'``; sort fields absent from ``df`` are skipped."""
    if opts.order != "global" or not opts.sort:
        return df
    cols = []
    for part in opts.sort.split(","):
        fld, _, direction = part.partition(":")
        fld = fld.strip()
        if fld not in df.columns:
            continue  # e.g. default @timestamp absent from this index
        cols.append(F.col(fld).desc() if direction.strip() == "desc" else F.col(fld).asc())
    return df.orderBy(*(cols or [F.lit(1)]))


def read_pattern_unioned(
    spark: SparkSession,
    client_factory: Callable[[], object],
    pattern: str,
    opts: ScanOptions | None = None,
) -> DataFrame:
    """All matching indices as ONE frame with an ``_index`` column
    (SURVEY op #19 union/append across indices): ``unionByName`` with
    missing-column tolerance — dynamically-mapped indices rarely share
    exact schemas (reference README.md:95-97 pairs with DuckDB's
    ``union_by_name=true`` for the same reason). ``order='global'``
    sorts the union once; the indices are read unsorted."""
    opts = opts or ScanOptions()
    dfs = read_pattern(spark, client_factory, pattern, replace(opts, order="slice"))
    if not dfs:
        raise ValueError(f"no indices match pattern {pattern!r}")
    out = None
    for idx, df in dfs.items():
        df = df.withColumn("_index", F.lit(idx))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return _ordered(out, opts)


def read_pattern(
    spark: SparkSession,
    client_factory: Callable[[], object],
    pattern: str,
    opts: ScanOptions | None = None,
) -> dict[str, DataFrame]:
    """Pattern fan-out: one typed DataFrame per matching index
    (reference ``process``, ``:87-95``). Same-mapping indices share one
    coercion build, kept for this call only (Columns hold JVM
    references). Callers union with
    ``unionByName(allowMissingColumns=True)`` when a single frame is
    wanted; per-index isolation is the pipeline layer's job."""
    opts = opts or ScanOptions()
    cache: dict = {}
    return {
        idx: read_index(spark, client_factory, idx, opts, cache=cache)
        for idx in expand_pattern(client_factory(), pattern, opts)
    }
