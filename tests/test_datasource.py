"""esdump Python Data Source + pure-Python coercion cross-checks."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from dump_es_parquet_spark.coerce import parse_and_coerce
from dump_es_parquet_spark.coerce_py import coerce_doc
from dump_es_parquet_spark.schema import properties_to_struct
from dump_es_parquet_spark.sources.datasource import EsDumpReader, register

MAPPING = {
    "host": {"type": "keyword"},
    "status": {"type": "keyword"},
    "port": {"type": "integer"},
    "@timestamp": {"type": "date"},
    "load": {"type": "double"},
    "meta": {"properties": {"dc": {"type": "keyword"}}},
}

DOCS = [
    {
        "host": f"web-{i % 5}",
        "status": "active" if i % 3 else "idle",
        "port": 9200 + i % 4,
        "@timestamp": 1748520000 + i,
        "load": i / 10.0,
        "meta": {"dc": "eu" if i % 2 else "us"},
    }
    for i in range(1200)
]

FIXTURE_JSON = json.dumps({"logs": {"mapping": MAPPING, "docs": DOCS}})


@pytest.fixture()
def esdump(spark):
    register(spark)
    return (
        spark.read.format("esdump")
        .option("fixture_json", FIXTURE_JSON)
        .option("index", "logs")
        .option("slices", "3")
        .option("sort", None or "@timestamp:asc")
    )


#: epoch-MILLIS timestamps (> the coercion's 2e10 seconds/millis
#: heuristic cutoff) so the mock's numeric range compare and the
#: pushed epoch-millis bounds agree end-to-end. Base instant:
#: 2025-05-29T12:00:00Z = 1748520000000 ms.
DOCS_MILLIS = [
    {
        "host": f"web-{i % 5}" if i % 4 else None,
        "status": "active" if i % 3 else "idle",
        "port": 9200 + i % 4,
        "@timestamp": 1748520000000 + i * 1000,
        "load": i / 10.0,
    }
    for i in range(100)
]

FIXTURE_MILLIS_JSON = json.dumps(
    {"logs": {"mapping": MAPPING, "docs": DOCS_MILLIS}}
)


@pytest.fixture()
def esdump_millis(spark):
    register(spark)
    return (
        spark.read.format("esdump")
        .option("fixture_json", FIXTURE_MILLIS_JSON)
        .option("index", "logs")
        .option("slices", "2")
    )


def test_read_all(esdump):
    df = esdump.load()
    assert df.count() == 1200
    row = df.filter("port = 9201").first()
    assert isinstance(row["@timestamp"], dt.datetime)
    assert row.meta.dc in ("eu", "us")


def test_filter_pushdown_results(esdump):
    df = esdump.load().filter("status = 'idle'")
    assert df.count() == 400
    assert df.select("status").distinct().first()[0] == "idle"


def test_fields_option(esdump):
    df = esdump.option("fields", "host,port").load()
    assert df.filter("load is not null").count() == 0
    assert df.filter("host is not null").count() == 1200


def test_push_filters_unit():
    from pyspark.sql.datasource import EqualTo, GreaterThan

    schema = properties_to_struct(MAPPING)
    r = EsDumpReader(schema, {"index": "logs"}, pushable={"status", "port"})
    remaining = list(
        r.pushFilters([EqualTo(("status",), "idle"), GreaterThan(("port",), 9201)])
    )
    assert r.pushed_clauses == ["status:idle"]
    assert len(remaining) == 1  # GreaterThan returned for Spark to apply
    assert r._query() == "status:idle"


def test_query_clauses_parenthesized():
    from pyspark.sql.datasource import EqualTo

    schema = properties_to_struct(MAPPING)
    r = EsDumpReader(
        schema,
        {"index": "logs", "query": "host:a OR host:b"},
        pushable={"status"},
    )
    list(r.pushFilters([EqualTo(("status",), "idle")]))
    # each clause parenthesized: Lucene AND binds tighter than OR
    assert r._query() == "(host:a OR host:b) AND (status:idle)"


def test_push_filters_widened_unit():
    """In / range / IsNotNull translate to the documented Lucene clause
    strings; unsound shapes are returned to Spark untouched."""
    import datetime as dtt

    from pyspark.sql.datasource import (
        EqualNullSafe,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    schema = properties_to_struct(MAPPING)
    field_types = {
        "host": "keyword", "status": "keyword", "port": "integer",
        "@timestamp": "date", "load": "double", "addr": "ip",
    }
    pushable = {"host", "status", "port", "addr"}
    r = EsDumpReader(
        schema, {"index": "logs"}, pushable=pushable, field_types=field_types
    )
    ts = dtt.datetime(2025, 5, 29, 12, 0, 30, tzinfo=dtt.timezone.utc)
    remaining = list(
        r.pushFilters(
            [
                In(("port",), [9201, 9202]),
                GreaterThanOrEqual(("@timestamp",), ts),
                LessThan(("@timestamp",), ts),
                GreaterThan(("port",), 9201),
                LessThanOrEqual(("host",), 'web "x"'),
                IsNotNull(("host",)),
                EqualNullSafe(("status",), "idle"),
                # -- all of these must come back for Spark to evaluate:
                IsNotNull(("missing_field",)),
                IsNull(("host",)),
                In(("port",), [9201, None]),
                GreaterThan(("load",), 0.5),   # double: not range-safe
                GreaterThan(("addr",), "10.0.0.0"),  # ip: order mismatch
                EqualNullSafe(("status",), None),    # IS NULL in disguise
            ]
        )
    )
    assert r.pushed_clauses == [
        "port:(9201 OR 9202)",
        "@timestamp:[1748520030000 TO *]",
        "@timestamp:[* TO 1748520030000}",
        "port:{9201 TO *]",
        'host:[* TO "web \\"x\\""]',
        "_exists_:host",
        "status:idle",
    ]
    assert len(remaining) == 6


def test_push_filters_negation_and_prefix_unit():
    """Not(EqualTo/In) pushes only when the same batch consumes the
    field's IsNotNull (null-exactness guard); StringStartsWith pushes
    as a wildcard prefix for keyword fields only."""
    from pyspark.sql.datasource import EqualTo, In, IsNotNull, Not, StringStartsWith

    schema = properties_to_struct(MAPPING)
    field_types = {"host": "keyword", "status": "keyword", "port": "integer",
                   "body": "text"}
    pushable = {"host", "status", "port"}

    r = EsDumpReader(schema, {"index": "logs"}, pushable=pushable,
                     field_types=field_types)
    remaining = list(
        r.pushFilters(
            [
                IsNotNull(("status",)),
                Not(EqualTo(("status",), "idle")),
                Not(In(("port",), [9200, 9201])),  # no IsNotNull(port) → back
                Not(EqualTo(("body",), "x")),      # text → back
                StringStartsWith(("host",), "web-"),
                StringStartsWith(("body",), "he"),  # text → back
            ]
        )
    )
    # the negation carries its own positive _exists_ conjunct: a
    # clause holding only a MUST_NOT would match no docs on real
    # Lucene (pure-negative sub-booleans rewrite top-level only)
    assert r.pushed_clauses == [
        "_exists_:status",
        "_exists_:status AND NOT (status:idle)",
        "host:web\\-*",
    ]
    assert len(remaining) == 3


def test_contains_endswith_pushdown_unit():
    """StringContains/StringEndsWith translate to keyword-gated leading
    wildcards (`*sub*` / `*suffix`); text fields and non-string values
    come back; empty patterns collapse to _exists_."""
    from pyspark.sql.datasource import (
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    schema = properties_to_struct(MAPPING)
    field_types = {"host": "keyword", "body": "text", "port": "integer"}
    r = EsDumpReader(schema, {"index": "logs"}, pushable={"host"},
                     field_types=field_types)
    remaining = list(
        r.pushFilters(
            [
                StringContains(("host",), "eb-"),
                StringEndsWith(("host",), "-1"),
                StringStartsWith(("host",), "web"),
                StringContains(("host",), ""),     # non-null gate
                StringContains(("host",), "a*b"),  # literal '*' escaped
                StringContains(("body",), "x"),    # text → back
                StringEndsWith(("port",), "1"),    # non-keyword → back
            ]
        )
    )
    assert r.pushed_clauses == [
        "host:*eb\\-*",
        "host:*\\-1",
        "host:web*",
        "_exists_:host",
        "host:*a\\*b*",
    ]
    assert len(remaining) == 2


def test_contains_endswith_pushdown_results(esdump_millis):
    """LIKE '%…%' / LIKE '%…' evaluate server-side (MockES) and match
    Spark's own substring/suffix semantics row-for-row."""
    df = esdump_millis.load()
    sub = df.filter("host LIKE '%eb-1%'")
    assert sub.count() > 0
    assert {r.host for r in sub.select("host").distinct().collect()} == {"web-1"}
    suf = df.filter("host LIKE '%-3'")
    assert suf.count() > 0
    assert {r.host for r in suf.select("host").distinct().collect()} == {"web-3"}
    # literal-wildcard value: no doc matches, and nothing crashes
    assert df.filter("host LIKE '%a*b%'").count() == 0


def test_submilli_timestamp_bounds_round_toward_interior():
    """Spark timestamps are micro-grained, ES stores whole millis: a
    consumed bound must round so the pushed range is EXACTLY the Spark
    predicate on milli-grained docs — ceil for >= and <, floor for >
    and <= (a floored >= bound would re-admit the doc at floor(b) that
    Spark excludes, and the consumed filter is never re-checked)."""
    import datetime as dtt

    from pyspark.sql.datasource import (
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    schema = properties_to_struct(MAPPING)
    field_types = {"@timestamp": "date"}
    r = EsDumpReader(schema, {"index": "logs"}, pushable=set(),
                     field_types=field_types)
    # 2025-05-29T12:00:30.000400Z — 400µs past the milli grid
    b = dtt.datetime(2025, 5, 29, 12, 0, 30, 400, tzinfo=dtt.timezone.utc)
    list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("@timestamp",), b),  # ceil
                GreaterThan(("@timestamp",), b),         # floor
                LessThan(("@timestamp",), b),            # ceil
                LessThanOrEqual(("@timestamp",), b),     # floor
            ]
        )
    )
    assert r.pushed_clauses == [
        "@timestamp:[1748520030001 TO *]",
        "@timestamp:{1748520030000 TO *]",
        "@timestamp:[* TO 1748520030001}",
        "@timestamp:[* TO 1748520030000]",
    ]
    # whole-milli bounds are unchanged in every direction
    r2 = EsDumpReader(schema, {"index": "logs"}, pushable=set(),
                      field_types=field_types)
    w = dtt.datetime(2025, 5, 29, 12, 0, 30, tzinfo=dtt.timezone.utc)
    list(r2.pushFilters([GreaterThanOrEqual(("@timestamp",), w),
                         LessThanOrEqual(("@timestamp",), w)]))
    assert r2.pushed_clauses == [
        "@timestamp:[1748520030000 TO *]",
        "@timestamp:[* TO 1748520030000]",
    ]


def test_boolean_literal_renders_lowercase():
    """ES boolean fields accept only 'true'/'false' — Python str(True)
    would 400 on a real server (EqualTo, In, and the negation form)."""
    from pyspark.sql.datasource import EqualTo, In, IsNotNull, Not

    schema = properties_to_struct({**MAPPING, "flag": {"type": "boolean"}})
    field_types = {"flag": "boolean"}
    r = EsDumpReader(schema, {"index": "logs"}, pushable={"flag"},
                     field_types=field_types)
    list(
        r.pushFilters(
            [
                IsNotNull(("flag",)),
                EqualTo(("flag",), True),
                Not(EqualTo(("flag",), False)),
                In(("flag",), [True, False]),
            ]
        )
    )
    assert r.pushed_clauses == [
        "_exists_:flag",
        "flag:true",
        "_exists_:flag AND NOT (flag:false)",
        "flag:(true OR false)",
    ]


def test_boolean_pushdown_end_to_end(spark):
    """Pushed boolean equality returns the same rows Spark computes."""
    mapping = {"host": {"type": "keyword"}, "up": {"type": "boolean"}}
    docs = [{"host": f"h{i}", "up": i % 3 == 0} for i in range(30)]
    fixture = json.dumps({"logs": {"mapping": mapping, "docs": docs}})
    register(spark)
    df = (
        spark.read.format("esdump")
        .option("fixture_json", fixture)
        .option("index", "logs")
        .option("slices", "2")
        .load()
    )
    assert df.filter("up = true").count() == 10
    assert df.filter("up IS NOT NULL AND up != true").count() == 20


def test_no_pit_forces_single_slice(spark):
    """search_after without PIT cannot slice (ES rejects the slice
    param outside a PIT/scroll context) — the reader must fall back to
    one partition, NOT run N full-index scans (which would duplicate
    every row N times)."""
    from dump_es_parquet_spark.sources.scan import ScanOptions, effective_slices

    assert effective_slices(ScanOptions(slices=8, pit=False)) == 1
    assert effective_slices(ScanOptions(slices=8, pit=True)) == 8
    assert effective_slices(ScanOptions(slices=8, cursor="scroll", pit=False)) == 8

    register(spark)
    df = (
        spark.read.format("esdump")
        .option("fixture_json", FIXTURE_MILLIS_JSON)
        .option("index", "logs")
        .option("slices", "4")
        .option("pit", "false")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == len(DOCS_MILLIS)  # no N-times duplication


def test_effective_slices_capped_by_exact_total():
    """An exact ``hits.total`` caps the slice count at ⌈total ÷ size⌉;
    a ``gte`` lower bound or a missing total leaves ``slices``; without
    a PIT the scan stays single-slice whatever the total."""
    from dump_es_parquet_spark.sources.scan import ScanOptions, effective_slices

    opts = ScanOptions()  # slices=8, size=500
    eq = lambda n: {"value": n, "relation": "eq"}  # noqa: E731
    assert effective_slices(opts, eq(0)) == 1
    assert effective_slices(opts, eq(300)) == 1
    assert effective_slices(opts, eq(1500)) == 3
    assert effective_slices(opts, eq(10_000)) == 8
    assert effective_slices(opts, 1500) == 3  # ES6: a plain integer
    assert effective_slices(opts, {"value": 10_000, "relation": "gte"}) == 8
    assert effective_slices(opts, {"value": 300, "relation": "gte"}) == 8
    assert effective_slices(opts) == 8
    for total in (eq(0), eq(10_000), None):
        assert effective_slices(ScanOptions(pit=False), total) == 1
    assert effective_slices(ScanOptions(cursor="scroll"), eq(1500)) == 3


def test_esdump_reads_address_the_planned_slice_count(monkeypatch):
    """Every partition carries its slice count: each slice spec the
    reader sends has ``max == len(partitions())``, and the slices
    together return every document exactly once."""
    from dump_es_parquet_spark.sources import datasource
    from dump_es_parquet_spark.sources.client import MockES

    sent: list = []

    class Recorder(MockES):
        def search(self, index, **kw):
            sent.append(kw.get("slice_spec"))
            return super().search(index, **kw)

    monkeypatch.setattr(
        datasource, "_make_client", lambda o: Recorder(json.loads(o["fixture_json"]))
    )
    schema = properties_to_struct(MAPPING)
    reader = EsDumpReader(schema, {"fixture_json": FIXTURE_JSON, "index": "logs", "slices": "3"})
    parts = reader.partitions()
    rows = [r for p in parts for r in reader.read(p)]
    assert len(parts) == 3
    assert sent and all(spec["max"] == len(parts) for spec in sent)
    assert {spec["id"] for spec in sent} == {0, 1, 2}
    load = schema.names.index("load")  # unique per document
    assert sorted(r[load] for r in rows) == sorted(d["load"] for d in DOCS)


def test_negation_pushdown_results(esdump_millis):
    """NOT-equality evaluated server-side matches Spark's null-aware
    semantics: docs with host=NULL are excluded by both engines."""
    df = esdump_millis.load()
    picked = df.filter("host IS NOT NULL AND host != 'web-1'")
    rows = picked.select("host").distinct().collect()
    assert {r.host for r in rows} == {"web-0", "web-2", "web-3", "web-4"}
    # prefix pushdown end-to-end
    pref = df.filter("host LIKE 'web-1%'")
    assert pref.count() > 0
    assert {r.host for r in pref.select("host").distinct().collect()} == {"web-1"}


def test_range_pushdown_results(esdump_millis):
    """A Spark-native timestamp window + IN + IS NOT NULL all evaluate
    server-side (MockES) and produce the same rows Spark would."""
    df = esdump_millis.load()
    windowed = df.filter(
        "`@timestamp` >= timestamp'2025-05-29 12:00:30' "
        "AND `@timestamp` < timestamp'2025-05-29 12:00:40'"
    )
    assert windowed.count() == 10
    picked = df.filter("port IN (9201, 9202) AND host IS NOT NULL")
    assert picked.count() == 50
    assert {r.port for r in picked.select("port").distinct().collect()} == {9201, 9202}


def test_esdump_composes_with_relational_layer(esdump_millis, spark):
    """End-to-end: an esdump frame behaves as a first-class relational
    input — server-side-filtered scan, broadcast join to a parquet-side
    dimension, grouped aggregation — matching the same pipeline
    computed in pure Python over the fixture."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [(9200, "http"), (9201, "alt-1"), (9202, "alt-2"), (9203, "alt-3")],
        "port int, service string",
    )
    df = (
        esdump_millis.load()
        .filter("status = 'idle' AND host IS NOT NULL")
        .join(F.broadcast(dim), "port")
        .groupBy("service")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("load"), 6).alias("avg_load"),
        )
        .orderBy("service")
    )
    got = [(r.service, r.n, r.avg_load) for r in df.collect()]

    svc = {9200: "http", 9201: "alt-1", 9202: "alt-2", 9203: "alt-3"}
    agg = {}
    for d in DOCS_MILLIS:
        if d["status"] == "idle" and d["host"] is not None:
            agg.setdefault(svc[d["port"]], []).append(d["load"])
    want = sorted(
        (s, len(v), round(sum(v) / len(v), 6)) for s, v in agg.items()
    )
    assert got == want and len(got) > 0


def test_mock_or_list_and_exists():
    from dump_es_parquet_spark.sources.client import _match_query_string

    doc = {"a": 1, "host": "web-1"}
    assert _match_query_string(doc, "a:(1 OR 2)")
    assert not _match_query_string(doc, "a:(3 OR 4)")
    assert _match_query_string(doc, "_exists_:host")
    assert not _match_query_string(doc, "_exists_:nope")
    # the engine's In rendering: Lucene-escaped bare terms
    assert _match_query_string(doc, "(host:(web\\-1 OR other)) AND (a:1)")


def test_push_filters_text_not_pushed():
    from pyspark.sql.datasource import EqualTo

    schema = properties_to_struct({"body": {"type": "text"}})
    r = EsDumpReader(schema, {"index": "logs"}, pushable=set())
    remaining = list(r.pushFilters([EqualTo(("body",), "hello")]))
    # analyzed text: term match ≠ equality → must stay in Spark
    assert r.pushed_clauses == []
    assert len(remaining) == 1


def test_python_and_expression_coercion_agree(spark):
    """Both coercion implementations produce identical rows for the
    FIXTURES.md A2-style hostile documents."""
    props = {
        "id": {"type": "long"},
        "count_i": {"type": "integer"},
        "ratio_d": {"type": "double"},
        "name": {"type": "keyword"},
        "active": {"type": "boolean"},
        "ts": {"type": "date"},
        "blob": {"type": "object"},
        "meta": {"properties": {"host": {"type": "keyword"}, "port": {"type": "integer"}}},
    }
    schema = properties_to_struct(props)
    docs = [
        {"id": 1, "count_i": "3.0", "ratio_d": "2.5", "name": ["a", "b"],
         "active": "true", "ts": 1748520000, "blob": {"k": [1, 2]},
         "meta": {"host": "h", "port": "9200"}},
        {"id": "abc", "count_i": 3.9, "name": [], "ts": "2026-05-29T12:00:00",
         "unknown": 1},
        {"ts": 19999999999},
        {"ts": 20000000000},
        {"ts": "garbage", "count_i": "nope", "active": "y"},
    ]
    expr_df = parse_and_coerce(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "value string"),
        schema,
    )
    expr_rows = [tuple(r) for r in expr_df.collect()]
    py_rows = [coerce_doc(d, schema) for d in docs]

    def flat(t):
        return tuple(tuple(x) if isinstance(x, tuple) else x for x in t)

    for er, pr, doc in zip(expr_rows, py_rows, docs):
        # struct rows come back as Row — normalize
        er = tuple(tuple(x) if hasattr(x, "_fields") or isinstance(x, tuple) else x for x in er)
        pr = flat(pr)
        # blob JSON text may differ in whitespace only
        assert er == pr, f"doc={doc}\nexpr={er}\npy={pr}"


def test_nested_struct_multivalue_coercion(spark):
    """Multi-value scalars NESTED inside structs collapse to their
    first element — at every depth — exactly like top-level fields
    (reference map_source recursion). Regression: the old to_json
    round-trip serialized a nested array as the quoted string
    '"[9200,9300]"', which never parsed as an array and coerced to
    NULL instead of 9200."""
    props = {
        "meta": {
            "properties": {
                "host": {"type": "keyword"},
                "port": {"type": "integer"},
                "deep": {"properties": {"vals": {"type": "long"}}},
            }
        },
        "note": {"type": "keyword"},
    }
    schema = properties_to_struct(props)
    docs = [
        {"meta": {"host": ["a", "b"], "port": [9200, 9300],
                  "deep": {"vals": [7, 8, 9]}}, "note": "[not an array]"},
        {"meta": {"port": [], "deep": [{"vals": 1}, {"vals": 2}]}},
        {"meta": 3},
        {"meta": {"port": "9201"}},
    ]
    expr_df = parse_and_coerce(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "value string"),
        schema,
    )
    rows = expr_df.collect()
    assert rows[0].meta.host == "a"
    assert rows[0].meta.port == 9200
    assert rows[0].meta.deep.vals == 7
    # a string that merely looks like an array stays a string
    assert rows[0].note == "[not an array]"
    # empty list → missing; array-of-objects → first object
    assert rows[1].meta.port is None
    assert rows[1].meta.deep.vals == 1
    # scalar where an object is expected → NULL struct
    assert rows[2].meta is None
    assert rows[3].meta.port == 9201
    # the Python twin agrees on the advisor's exact case
    py = [coerce_doc(d, schema) for d in docs]
    assert py[0][0][1] == 9200 and py[0][0][0] == "a"


def test_user_query_combines_with_pushdown(esdump):
    """A user-supplied query option AND a Catalyst pushed filter reach
    the server as parenthesized conjoined clauses — and still match
    (regression: the mock evaluator dropped parenthesized clauses,
    silently returning zero rows for every combined query)."""
    df = (
        esdump.option("query", "status:idle").load().filter("port = 9201")
    )
    assert df.count() > 0
    rows = df.select("status", "port").distinct().collect()
    assert [(r.status, r.port) for r in rows] == [("idle", 9201)]


def test_mock_evaluates_parenthesized_clauses():
    from dump_es_parquet_spark.sources.client import _match_query_string

    doc = {"a": 1, "ts": 5}
    assert _match_query_string(doc, "(a:1) AND (ts:[1 TO 9])")
    assert _match_query_string(doc, "((a:1)) AND (ts:{4 TO *])")
    assert not _match_query_string(doc, "(a:2) AND (ts:[1 TO 9])")
