"""Coercion tests — one per branch of the reference's map_source
(dump-es-parquet:112-183), per FIXTURES.md A2."""

from __future__ import annotations

import datetime as dt
import json
import re

import pytest
from pyspark.sql import Observation, Row
from pyspark.sql import types as T

from dump_es_parquet_spark.coerce import (
    _select_wires,
    build_coercion,
    parse_and_coerce,
    warning_aggregates,
)
from dump_es_parquet_spark.schema import properties_to_struct

PROPS = {
    "id": {"type": "long"},
    "count_i": {"type": "integer"},
    "ratio_d": {"type": "double"},
    "name": {"type": "keyword"},
    "active": {"type": "boolean"},
    "ts": {"type": "date"},
    "blob": {"type": "object"},
    "meta": {
        "properties": {
            "host": {"type": "keyword"},
            "port": {"type": "integer"},
            "geo": {"properties": {"city": {"type": "keyword"}}},
        }
    },
}
SCHEMA = properties_to_struct(PROPS)

UTC = dt.timezone.utc


def run(spark, docs, schema=SCHEMA, **kw):
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "value string")
    return parse_and_coerce(df, schema, **kw).collect()


def test_clean_row(spark):
    [r] = run(
        spark,
        [
            {
                "id": 7,
                "count_i": 3,
                "ratio_d": 0.5,
                "name": "a",
                "active": True,
                "ts": "2026-05-29T12:00:00",
                "blob": {"k": [1, 2]},
                "meta": {"host": "h1", "port": 9200, "geo": {"city": "x"}},
            }
        ],
    )
    assert r.id == 7
    assert r.count_i == 3
    assert r.ratio_d == 0.5
    assert r.name == "a"
    assert r.active is True
    assert r.ts == dt.datetime(2026, 5, 29, 12, 0, 0)
    assert json.loads(r.blob) == {"k": [1, 2]}
    assert r.meta == Row(host="h1", port=9200, geo=Row(city="x"))


def test_iso_date(spark):
    [r] = run(spark, [{"ts": "2026-05-29T12:00:00"}])
    assert r.ts == dt.datetime(2026, 5, 29, 12, 0, 0)


def test_epoch_seconds(spark):
    [r] = run(spark, [{"ts": 1748520000}])
    assert r.ts == dt.datetime.fromtimestamp(1748520000, UTC).replace(tzinfo=None)


def test_epoch_millis(spark):
    [r] = run(spark, [{"ts": 1748520000123}])
    expect = dt.datetime.fromtimestamp(1748520000.123, UTC).replace(tzinfo=None)
    assert r.ts == expect


def test_epoch_boundary(spark):
    # threshold exactly 20_000_000_000 (reference :151): below=seconds,
    # at/above=millis
    [lo, hi] = run(spark, [{"id": 1, "ts": 19999999999}, {"id": 2, "ts": 20000000000}])
    assert lo.ts == dt.datetime.fromtimestamp(19999999999, UTC).replace(tzinfo=None)
    assert hi.ts == dt.datetime.fromtimestamp(20000000000 / 1000, UTC).replace(
        tzinfo=None
    )


def test_garbage_date_dropped(spark):
    [r] = run(spark, [{"ts": "not-a-date"}])
    assert r.ts is None


def test_small_bare_int_is_epoch_not_year_literal(spark):
    # PARITY.md #18: EVERY bare integer is an epoch. Spark would parse
    # '1000' as the year-1000 literal; the pinned spec says 1000
    # epoch-seconds (the reference's int branch, dump-es-parquet:149).
    [r] = run(spark, [{"ts": 1000}])
    assert r.ts == dt.datetime(1970, 1, 1, 0, 16, 40)


def test_negative_bare_int_is_pre_epoch_not_crash(spark):
    # -1000 must neither parse as year -1000 (which crashes collect())
    # nor drop: it is 1000 seconds before the epoch.
    [r] = run(spark, [{"ts": -1000}])
    assert r.ts == dt.datetime(1969, 12, 31, 23, 43, 20)


def test_eight_digit_int_is_epoch_not_yyyymmdd(spark):
    # PARITY.md #18 pins the ambiguous 8-digit shape: epoch seconds,
    # NOT a basic-format date (the reference's string path would read
    # 2024-01-01 but TypeErrors on the int wire shape; we unify).
    [a, b] = run(spark, [{"id": 1, "ts": 20240101}, {"id": 2, "ts": "20240101"}])
    expect = dt.datetime(1970, 1, 1) + dt.timedelta(seconds=20240101)
    assert a.ts == expect
    assert b.ts == expect


def test_out_of_range_dates_null_not_crash(spark):
    # Years outside 1-9999 are unrepresentable in Python datetime —
    # clamp to NULL so collect() never raises (PARITY.md #18).
    rows = run(
        spark,
        [
            {"id": 1, "ts": "0000-01-01"},
            {"id": 2, "ts": "+10000-01-01T00:00:00"},
            {"id": 3, "ts": -62135510401},  # 1s below the clamp floor
            {"id": 4, "ts": 253402214400000},  # 1s above the clamp ceiling
            {"id": 5, "ts": 2**63},  # beyond int64
        ],
    )
    assert all(r.ts is None for r in rows)


def test_epoch_range_edges_representable(spark):
    # Clamp edges are one day inside years 1/9999 (local-tz
    # materialization safety — see coerce.MIN/MAX_EPOCH_SECONDS).
    [lo, hi] = run(
        spark, [{"id": 1, "ts": -62135510400}, {"id": 2, "ts": 253402214399000}]
    )
    assert lo.ts == dt.datetime(1, 1, 2, 0, 0, 0)
    assert hi.ts == dt.datetime(9999, 12, 30, 23, 59, 59)


def test_epoch_string_form(spark):
    [r] = run(spark, [{"ts": "1748520000"}])
    assert r.ts == dt.datetime.fromtimestamp(1748520000, UTC).replace(tzinfo=None)


def test_int_as_float_string(spark):
    # int("3.0") fails → int(float("3.0")) (reference :167-168)
    [r] = run(spark, [{"count_i": "3.0"}])
    assert r.count_i == 3


def test_int_as_float_value(spark):
    [r] = run(spark, [{"count_i": 3.9}])
    assert r.count_i == 3  # truncation toward zero, like int(float)


def test_garbage_int_dropped(spark):
    [r] = run(spark, [{"count_i": "abc"}])
    assert r.count_i is None


def test_float_from_string(spark):
    [r] = run(spark, [{"ratio_d": "2.5"}])
    assert r.ratio_d == 2.5


def test_multivalue_first_element(spark):
    [r] = run(spark, [{"name": ["a", "b"]}])
    assert r.name == "a"


def test_multivalue_numeric(spark):
    [r] = run(spark, [{"count_i": [5, 6]}])
    assert r.count_i == 5


def test_empty_list_is_missing(spark):
    [r] = run(spark, [{"name": []}])
    assert r.name is None


def test_string_that_looks_like_list_is_not_collapsed(spark):
    # a JSON *string* "[1, 2]" must survive verbatim — only genuine
    # JSON arrays collapse (reference distinguishes via type(v) is list)
    [r] = run(spark, [{"name": "[1, 2]"}])
    assert r.name == "[1, 2]"


def test_unknown_field_dropped(spark):
    [r] = run(spark, [{"id": 1, "extra_field": 99}])
    assert r.id == 1
    assert "extra_field" not in r.asDict()


def test_missing_fields_null(spark):
    [r] = run(spark, [{"id": 1}])
    assert r.name is None and r.ts is None and r.meta is None


def test_propertyless_object_serialized(spark):
    [r] = run(spark, [{"blob": {"k": [1, 2]}}])
    assert json.loads(r.blob) == {"k": [1, 2]}


def test_scalar_blob_stays_string(spark):
    [r] = run(spark, [{"blob": "plain"}])
    assert r.blob == "plain"


def test_flatten_mode(spark):
    [r] = run(
        spark,
        [{"meta": {"host": "h1", "port": 9200, "geo": {"city": "x"}}}],
        flatten=True,
    )
    d = r.asDict()
    assert d["meta_host"] == "h1"
    assert d["meta_port"] == 9200
    assert d["meta_geo_city"] == "x"
    assert "meta" not in d


def test_multivalue_array_mode(spark):
    schema = properties_to_struct({"name": {"type": "keyword"}}, multivalue="array")
    [one, many, none] = run(
        spark,
        [{"name": "solo"}, {"name": ["a", "b"]}, {}],
        schema=schema,
        multivalue="array",
    )
    assert one.name == ["solo"]
    assert many.name == ["a", "b"]
    assert none.name is None


def test_multivalue_struct_field(spark):
    [r] = run(spark, [{"meta": [{"host": "h1"}, {"host": "h2"}]}])
    assert r.meta.host == "h1"


def test_boolean_variants(spark):
    rows = run(spark, [{"id": 1, "active": True}, {"id": 2, "active": "false"}])
    assert rows[0].active is True
    assert rows[1].active is False


def test_warning_aggregates(spark):
    docs = [
        {"id": 1, "extra": 1, "also_extra": 2},
        {"id": "abc"},
        {"name": ["a", "b"]},
        {"ts": "garbage"},
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "value string")
    coercion = build_coercion(df.columns, SCHEMA)
    df, wires = _select_wires(df, coercion.depths), coercion.wires
    aggs = warning_aggregates(wires)
    row = df.agg(*[c.alias(n) for n, c in aggs.items()]).collect()[0]
    assert row.docs == 4
    assert row.unknown_field_values == 2
    assert row.multivalue_collapsed == 1
    assert row.id_cast_failures == 1
    assert row.ts_cast_failures == 1


def test_no_python_udf_in_plan(spark):
    df = spark.createDataFrame([("{}",)], "value string")
    plan = parse_and_coerce(df, SCHEMA)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_nested_warnings_count_every_depth(spark):
    """The reference's map_source recursion warns at every depth: a
    nested bad cast gets its own dotted counter, and nested unknown
    keys / multi-values join the top-level totals."""
    docs = [
        {"meta": {"port": "abc"}},
        {"meta": {"host": "h", "extra": 1, "geo": {"city": "x", "zip": 2}}},
        {"meta": {"host": ["a", "b"], "geo": {"city": ["y", "z"]}}},
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "value string")
    obs = Observation("nested")
    rows = parse_and_coerce(df, SCHEMA, observation=obs).collect()
    assert [r.meta.port for r in rows] == [None, None, None]
    assert rows[2].meta.host == "a" and rows[2].meta.geo.city == "y"
    got = obs.get
    assert got["docs"] == 3
    assert got["meta.port_cast_failures"] == 1
    assert got["unknown_field_values"] == 2
    assert got["multivalue_collapsed"] == 2
    assert got["id_cast_failures"] == 0


def test_wire_names_never_shadow_input_columns(spark):
    """Wire columns get a prefix no input column starts with; a mapping
    field literally named ``value`` coerces from the ``value`` text."""
    st = properties_to_struct({"value": {"type": "long"}, "_wire0_s": {"type": "long"}})
    df = spark.createDataFrame(
        [(json.dumps({"value": 5, "_wire0_s": 6}), "x")],
        "value string, _wire0_s string",
    )
    coercion = build_coercion(df.columns, st)
    wired, wires = _select_wires(df, coercion.depths), coercion.wires
    assert set(df.columns) <= set(wired.columns)
    assert not set(df.columns) & {n for ns in wires.levels.values() for n in ns}
    [r] = parse_and_coerce(df, st).collect()
    assert (r.value, r["_wire0_s"]) == (5, 6)


# A1-shaped mapping (FIXTURES.md A1): three struct fields at any depth
# (location, meta, meta.geo).
A1_PROPS = {
    **PROPS,
    "count_b": {"type": "byte"},
    "count_s": {"type": "short"},
    "ratio_h": {"type": "half_float"},
    "ratio_f": {"type": "float"},
    "body": {"type": "text"},
    "legacy": {"type": "string"},
    "location": {"type": "geo_point"},
    "client_ip": {"type": "ip"},
    "mystery": {"type": "weird_type"},
}


def _struct_fields(st: T.StructType) -> int:
    return sum(
        1 + _struct_fields(f.dataType)
        for f in st.fields
        if isinstance(f.dataType, T.StructType)
    )


def _distinct_from_json(plan: str) -> set[str]:
    found = set()
    for m in re.finditer(r"from_json\(", plan):
        i, depth = m.end(), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        found.add(plan[m.start() : i])
    return found


@pytest.mark.parametrize("props", [PROPS, A1_PROPS], ids=["SCHEMA", "A1"])
def test_plan_parses_each_struct_level_once(spark, props):
    """Plan pin: the observed, coerced frame parses each struct level
    with exactly two from_json (scalar + array wire) — Catalyst's
    OptimizeCsvJsonExprs must find no from_json(...).field to split into
    per-field parses — and the warning observation parses nothing."""
    schema = properties_to_struct(props)
    df = spark.createDataFrame([("{}",)], "value string")
    out = parse_and_coerce(df, schema, observation=Observation("pin"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    want = 2 * (1 + _struct_fields(schema))
    assert want == (6 if props is PROPS else 8)
    assert len(_distinct_from_json(plan)) == want
    metrics = [ln for ln in plan.splitlines() if "CollectMetrics" in ln]
    assert len(metrics) == 1 and "from_json" not in metrics[0]
