"""Spark 4 Python Data Source: ``spark.read.format("esdump")``.

The DSv2-integrated face of the scan (SURVEY.md op #5 "V2"): schema
comes from the index mapping at planning time, each server-side slice
becomes an ``InputPartition``, and Catalyst equality filters are pushed
down as Lucene ``query_string`` clauses (``pushFilters``) — the same
translation direction the es-hadoop connector uses, reproducing the
reference's server-side filtering (``dump-es-parquet:222``) for
Spark-native ``df.filter(...)`` calls.

Options:

- ``url``: ES/OS base URL (RestES), or ``fixture_json``: canned
  fixture (MockES — tests)
- ``index`` (required), ``timeout``, and the scan options that
  ``ScanOptions.from_options`` parses (``sort`` unset by default)

Each partition is one slice read by ``scan.iter_slice_hits``, the batch
scan's slice reader, with the pushed clauses AND-ed onto ``query``; it
carries ``(slice_id, n_slices)``, so a reader addresses exactly the
slices ``partitions()`` planned.
Rows are coerced *in the reader* with the pure-Python twin of the
expression coercion (``scan.coerce_hits``) — the data is already
Python dicts from the HTTP JSON, so this is the natural (and single)
pass.

**Column-pruning boundary.** The Python Data Source API exposes
``pushFilters`` but no column-prune hook (there is no Python
counterpart of ``SupportsPushDownRequiredColumns``), so a bare
``df.select("a", "b")`` on an esdump frame prunes only *after* the
reader has fetched every ``_source`` field over the wire. The
``fields`` option IS this source's projection pushdown — the exact
``_source`` includes mechanism the reference pushes server-side
(``dump-es-parquet:223,386-387``), wildcards included. Pair it with
the select::

    df = (spark.read.format("esdump")
          .option("url", url).option("index", "logs")
          .option("fields", "host,status,@timestamp")  # wire-level prune
          .load()
          .select("host", "status"))                   # plan-level prune

If Spark later adds a prune hook to the Python API, ``fields`` can be
derived from the required schema; until then it is explicit.

Register per-session with ``register(spark)``.
"""

from __future__ import annotations

import json
from dataclasses import replace
from typing import Iterator, Sequence

import datetime as _dt

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from dump_es_parquet_spark.sources.scan import (
    ScanOptions,
    and_query,
    coerce_hits,
    effective_slices,
    fetch_mapping,
    fetch_schema,
    iter_slice_hits,
)


def _make_client(options: dict):
    fixture = options.get("fixture_json")
    if fixture:
        from dump_es_parquet_spark.sources.client import MockES

        return MockES(json.loads(fixture))
    from dump_es_parquet_spark.sources.client import RestES

    return RestES(
        options["url"],
        timeout=int(options.get("timeout", "60")),
        cert=options.get("cert"),
        key=options.get("key"),
        capath=options.get("capath"),
        verify_certs=options.get("verify_certs", "true") != "false",
    )


def _lucene_escape(v) -> str:
    # ES boolean fields accept only lowercase 'true'/'false' — Python
    # str(True) would 400 on a real server (bool before the generic
    # path, since bool is an int subclass)
    if isinstance(v, bool):
        return "true" if v else "false"
    # backslash MUST be escaped first — escaping it after the other
    # characters would re-escape the backslashes just inserted
    # (`web-` → `web\-` → `web\\-`, a different Lucene term)
    s = str(v)
    for ch in '\\+-&|!(){}[]^"~*?:/ ':
        s = s.replace(ch, "\\" + ch)
    return s


def _is_scalar(v) -> bool:
    """Literal shapes that render soundly into a query_string term.
    Strings containing non-space whitespace are rejected: Lucene's
    escape syntax covers ' ' but tabs/newlines still tokenize, so such
    a term would not round-trip as equality on a real server."""
    if v is None or isinstance(v, (dict, list, tuple, bytes)):
        return False
    if isinstance(v, str) and any(c.isspace() and c != " " for c in v):
        return False
    return True


_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_MICRO = _dt.timedelta(microseconds=1)


def _range_literal(v, es_type: str, round_up: bool = False) -> str | None:
    """Render one range bound for a Lucene ``field:[lo TO hi]`` clause,
    or None if the value can't be rendered soundly for this ES type.

    ``date`` bounds are emitted as epoch-millis integers: the ES date
    type's default format is ``strict_date_optional_time||epoch_millis``,
    so millis are accepted verbatim and sidestep every ISO-format /
    timezone-suffix pitfall. Spark timestamps are *microsecond*
    precision while ES stores whole millis, so the bound must round in
    the direction that keeps the consumed filter exactly equivalent on
    milli-grained docs: ceil for ``>=`` / ``<`` bounds, floor for
    ``>`` / ``<=`` (``round_up`` — derivation at the call site).
    Computed from exact integer microseconds (timedelta division), not
    float ``.timestamp()``, to avoid ulp drift on large epochs.
    """
    if es_type == "date":
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            micros = (v - _EPOCH_UTC) // _MICRO
        elif isinstance(v, _dt.date):
            dtv = _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc)
            micros = (dtv - _EPOCH_UTC) // _MICRO
        else:
            return None
        if round_up:
            return str(-((-micros) // 1000))
        return str(micros // 1000)
    if es_type == "keyword":
        if not isinstance(v, str):
            return None
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    # integral numerics
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return str(v)


class EsDumpDataSource(DataSource):
    """``spark.read.format("esdump")`` entry point."""

    @classmethod
    def name(cls) -> str:
        return "esdump"

    def schema(self) -> StructType:
        return fetch_schema(
            _make_client(self.options),
            self.options["index"],
            ScanOptions.from_options(self.options),
        )

    #: ES types with exact-term query_string semantics — equality
    #: pushdown is only sound for these. ``text`` is analyzed: a term
    #: query is NOT equality, so text fields are never pushed.
    PUSHABLE_ES_TYPES = frozenset(
        {"keyword", "byte", "short", "integer", "long", "ip", "boolean"}
    )

    #: ES types whose server-side range ordering matches Spark's
    #: comparison on the coerced column — range (>, >=, <, <=) pushdown
    #: is only sound for these. ``date`` compares as instants on both
    #: sides (bounds shipped as epoch millis); integrals compare
    #: numerically; ``keyword`` compares byte-wise UTF-8 on both sides
    #: (Spark's default UTF8_BINARY collation = Lucene term order).
    #: Excluded: ``ip`` (ES orders as addresses, the coerced column is
    #: a string — "9.0.0.0" > "10.0.0.0" lexicographically), ``boolean``
    #: (no meaningful range), ``float``/``double``/``half_float``
    #: (stored-precision rounding at the bound can disagree with
    #: Spark's double compare).
    RANGE_ES_TYPES = frozenset(
        {"byte", "short", "integer", "long", "keyword", "date"}
    )

    def simpleStreamReader(self, schema: StructType):
        """Micro-batch streaming over search_after cursors —
        ``spark.readStream.format("esdump")`` (see
        ``streaming/es_stream.py``)."""
        from dump_es_parquet_spark.streaming.es_stream import EsDumpStreamReader

        return EsDumpStreamReader(schema, dict(self.options))

    def streamReader(self, schema: StructType):
        """``stream_mode=timeslice`` → the partitioned, executor-side
        stream reader (timestamp-watermark offsets, N slices per
        batch); any other value falls back to the simple cursor reader
        (Spark calls ``simpleStreamReader`` when this raises
        NOT_IMPLEMENTED)."""
        if self.options.get("stream_mode") == "timeslice":
            from dump_es_parquet_spark.streaming.es_stream import (
                EsDumpTimeSliceStreamReader,
            )

            return EsDumpTimeSliceStreamReader(schema, dict(self.options))
        from pyspark.errors import PySparkNotImplementedError

        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "streamReader"}
        )

    def reader(self, schema: StructType) -> "EsDumpReader":
        mapping = fetch_mapping(
            _make_client(self.options),
            self.options["index"],
            ScanOptions.from_options(self.options),
        )
        props = next(iter(mapping.values()))["mappings"].get("properties", {})
        # typed leaf fields only: object fields (bare "properties") are
        # excluded so IsNotNull on a struct column is never pushed —
        # ES `_exists_:obj` is false for `{"obj": {}}` while the coerced
        # struct is non-null there.
        field_types = {
            name: spec["type"] for name, spec in props.items() if "type" in spec
        }
        pushable = {
            name
            for name, t in field_types.items()
            if t in self.PUSHABLE_ES_TYPES
        }
        return EsDumpReader(schema, dict(self.options), pushable, field_types)


class EsDumpReader(DataSourceReader):
    #: lower bound is exclusive for GT (`{v`), inclusive for GTE (`[v`);
    #: the unbounded side's bracket is irrelevant — `]` by convention.
    _RANGE_TEMPLATES = {
        GreaterThan: "{fld}:{{{val} TO *]",
        GreaterThanOrEqual: "{fld}:[{val} TO *]",
        LessThan: "{fld}:[* TO {val}}}",
        LessThanOrEqual: "{fld}:[* TO {val}]",
    }

    def __init__(
        self,
        schema: StructType,
        options: dict,
        pushable: set[str] | None = None,
        field_types: dict[str, str] | None = None,
    ):
        self.schema = schema
        self.options = options
        self.scan = ScanOptions.from_options(options)
        # default: nothing pushable without mapping info
        self.pushable = pushable if pushable is not None else set()
        self.field_types = field_types if field_types is not None else {}
        self.pushed_clauses: list[str] = []

    # -- Catalyst filter pushdown → Lucene query_string ---------------
    def pushFilters(self, filters: list["Filter"]) -> Iterator["Filter"]:
        """Consume top-level filters that translate soundly to Lucene
        ``query_string`` clauses; everything else is returned for Spark
        to evaluate. This is the reference's whole-filter-server-side
        behavior (``dump-es-parquet:222,385``) applied per-conjunct to
        native Spark filters:

        - ``EqualTo``/``EqualNullSafe`` → ``field:value`` (exact-term
          ``pushable`` types only; analyzed ``text`` never pushes)
        - ``In`` → ``field:(v1 OR v2 ...)`` (same gate; an In-list that
          contains NULL still only matches the non-null members —
          three-valued IN is never TRUE on the null, so dropping it
          would even be sound, but we simply don't push that shape)
        - ``GreaterThan[OrEqual]``/``LessThan[OrEqual]`` → Lucene
          ``field:[a TO b]`` / ``{a TO b}`` ranges, gated on
          ``RANGE_ES_TYPES``; crucially ``date`` ranges ship as epoch
          millis so a ``@timestamp`` window no longer fetches the whole
          index over the wire
        - ``IsNotNull`` → ``_exists_:field`` (typed leaf fields only;
          matches docs with ≥1 indexed value = rows whose coerced
          column is non-null, including the empty-array→NULL collapse)
        - ``StringStartsWith``/``StringEndsWith``/``StringContains`` →
          ``field:prefix*`` / ``field:*suffix`` / ``field:*sub*``
          (keyword only — wildcards on an exact term ARE string
          prefix/suffix/substring; analyzed text and ip/boolean are
          excluded; empty pattern → ``_exists_``)
        - ``Not(EqualTo/In)`` → ``NOT field:...`` — but ONLY when an
          ``IsNotNull`` on the same field is consumed in the same
          batch: Lucene ``NOT f:v`` also matches docs *without* ``f``,
          while Spark's ``f != v`` filters nulls out; the conjoined
          ``_exists_:f AND NOT f:v`` restores exact equivalence.
          Catalyst supplies that IsNotNull conjunct for every
          null-filtering predicate, so in practice negations push.
        """
        fs = list(filters)
        # fields whose IsNotNull we are about to consume — the guard
        # that makes NOT clauses null-exact (see docstring)
        self._notnull_pushed = {
            f.attribute[0]
            for f in fs
            if isinstance(f, IsNotNull)
            and len(f.attribute) == 1
            and f.attribute[0] in self.field_types
            and self._fetched(f.attribute[0])
        }
        for f in fs:
            clause = self._translate(f)
            if clause is not None:
                self.pushed_clauses.append(clause)
            else:
                yield f

    def _fetched(self, fld: str) -> bool:
        """A filter may only be *consumed* if the reader actually
        fetches the field: with a ``fields`` (``_source`` includes)
        projection, the server still matches on the full stored doc,
        but the excluded column comes back NULL — so a consumed
        ``_exists_:load`` (or ``load:3``) would return rows whose
        ``load`` column is NULL, contradicting the Spark predicate."""
        pats = self.scan.source_includes()
        if not pats:
            return True
        import fnmatch

        return any(fnmatch.fnmatch(fld, p) for p in pats)

    def _translate(self, f: "Filter") -> str | None:
        if isinstance(f, Not):
            inner = f.child
            if (
                isinstance(inner, (EqualTo, In))
                and len(inner.attribute) == 1
                and inner.attribute[0] in getattr(self, "_notnull_pushed", ())
            ):
                pos = self._translate(inner)
                if pos is not None:
                    # The existence guard rides INSIDE this clause: a
                    # parenthesized sub-boolean holding only a MUST_NOT
                    # (`(NOT f:v)`) rewrites to match-no-docs on real
                    # Lucene (pure-negative handling is top-level
                    # only); the positive `_exists_` conjunct keeps the
                    # clause self-contained — and it is the same guard
                    # that makes NOT null-exact (see pushFilters).
                    guard = _lucene_escape(inner.attribute[0])
                    return f"_exists_:{guard} AND NOT ({pos})"
            return None
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        fld = attr[0]
        if not self._fetched(fld):
            return None
        efld = _lucene_escape(fld)  # field names escape like terms
        if isinstance(f, IsNotNull):
            return f"_exists_:{efld}" if fld in self.field_types else None
        if isinstance(f, (EqualTo, EqualNullSafe)):
            # EqualNullSafe(NULL) means "IS NULL" — not expressible; the
            # _is_scalar gate rejects it along with complex literals.
            if fld in self.pushable and _is_scalar(f.value):
                return f"{efld}:{_lucene_escape(f.value)}"
            return None
        if isinstance(f, In):
            # cap well under Lucene's default 1024 maxClauseCount — a
            # huge IN-list is better evaluated by Spark than rejected
            # by the server
            if (
                fld in self.pushable
                and f.value
                and len(f.value) <= 512
                and all(_is_scalar(v) for v in f.value)
            ):
                ors = " OR ".join(_lucene_escape(v) for v in f.value)
                return f"{efld}:({ors})"
            return None
        if isinstance(f, (StringStartsWith, StringEndsWith, StringContains)):
            # wildcard patterns on an exact (keyword) term ARE string
            # prefix/suffix/substring; analyzed text would match token
            # fragments instead, so text never pushes. The reference
            # evaluates its whole Lucene filter server-side
            # (dump-es-parquet:222,385) where `*term*`/`*term` are
            # expressible — a leading wildcard costs server CPU (term
            # scan), but the alternative ships the entire index over
            # the wire for Spark to filter.
            if (
                self.field_types.get(fld) == "keyword"
                and isinstance(f.value, str)
                and _is_scalar(f.value)
            ):
                if f.value == "":
                    # contains''/endswith''/startswith'' is TRUE exactly
                    # where the column is non-null
                    return f"_exists_:{efld}"
                body = _lucene_escape(f.value)
                if isinstance(f, StringStartsWith):
                    return f"{efld}:{body}*"
                if isinstance(f, StringEndsWith):
                    return f"{efld}:*{body}"
                return f"{efld}:*{body}*"
            return None
        tmpl = self._RANGE_TEMPLATES.get(type(f))
        if tmpl is not None:
            es_type = self.field_types.get(fld)
            if es_type in EsDumpDataSource.RANGE_ES_TYPES:
                # date bounds round toward the predicate's interior on
                # ES's milli grid (Spark ts are micro-grained): for
                # whole-milli doc values m and micro bound b,
                #   m*1000 >= b  ⟺  m >= ceil(b/1000)   ([v TO *])
                #   m*1000 >  b  ⟺  m >  floor(b/1000)  ({v TO *])
                #   m*1000 <  b  ⟺  m <  ceil(b/1000)   ([* TO v})
                #   m*1000 <= b  ⟺  m <= floor(b/1000)  ([* TO v])
                round_up = isinstance(f, (GreaterThanOrEqual, LessThan))
                val = _range_literal(f.value, es_type, round_up=round_up)
                if val is not None:
                    return tmpl.format(fld=efld, val=val)
        return None

    def _query(self) -> str | None:
        # consumed pushdown filters are trusted, nothing re-checks the
        # rows: they must reach the server AND-ed onto the user query
        return and_query(self.scan.query, *self.pushed_clauses)

    def partitions(self) -> Sequence[InputPartition]:
        # each partition carries its slice count: read() must address
        # slice i of the SAME n, or slices are silently lost or doubled
        n = effective_slices(self.scan)
        return [InputPartition((i, n)) for i in range(n)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        slice_id, n_slices = partition.value
        opts = replace(self.scan, query=self._query())
        hits = iter_slice_hits(
            _make_client(self.options), self.options["index"], opts, slice_id, n_slices
        )
        return coerce_hits(hits, self.schema, opts)


def register(spark) -> None:
    # opt-in conf gating Python DSv2 filter pushdown (runtime-settable)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EsDumpDataSource)
