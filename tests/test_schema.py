"""Schema derivation tests — every row of the reference type table
(dump-es-parquet:33-49) plus nesting/flatten/doc-type handling
(:97-110, :185-204) per FIXTURES.md A1."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from dump_es_parquet_spark.schema import (
    SchemaWarnings,
    mapping_response_to_struct,
    properties_to_struct,
)

# FIXTURES.md A1 mapping: every supported type + nested + unhandled.
A1_PROPERTIES = {
    "id": {"type": "long"},
    "count_b": {"type": "byte"},
    "count_s": {"type": "short"},
    "count_i": {"type": "integer"},
    "ratio_h": {"type": "half_float"},
    "ratio_f": {"type": "float"},
    "ratio_d": {"type": "double"},
    "name": {"type": "keyword"},
    "body": {"type": "text"},
    "legacy": {"type": "string"},
    "active": {"type": "boolean"},
    "ts": {"type": "date"},
    "location": {"type": "geo_point"},
    "client_ip": {"type": "ip"},
    "blob": {"type": "object"},
    "meta": {
        "properties": {
            "host": {"type": "keyword"},
            "port": {"type": "integer"},
            "geo": {"properties": {"city": {"type": "keyword"}}},
        }
    },
    "mystery": {"type": "weird_type"},
}

EXPECTED_LEAVES = {
    "id": T.LongType(),
    "count_b": T.ByteType(),
    "count_s": T.ShortType(),
    "count_i": T.IntegerType(),
    "ratio_h": T.FloatType(),
    "ratio_f": T.FloatType(),
    "ratio_d": T.DoubleType(),
    "name": T.StringType(),
    "body": T.StringType(),
    "legacy": T.StringType(),
    "active": T.BooleanType(),
    "ts": T.TimestampType(),
    "client_ip": T.StringType(),
    "blob": T.StringType(),
}


def test_every_scalar_type_row():
    st = properties_to_struct(A1_PROPERTIES)
    by_name = {f.name: f.dataType for f in st.fields}
    for name, dt in EXPECTED_LEAVES.items():
        assert by_name[name] == dt, name


def test_geo_point_struct():
    st = properties_to_struct(A1_PROPERTIES)
    geo = dict((f.name, f.dataType) for f in st.fields)["location"]
    assert geo == T.StructType(
        [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
    )


def test_nested_struct():
    st = properties_to_struct(A1_PROPERTIES)
    meta = dict((f.name, f.dataType) for f in st.fields)["meta"]
    assert isinstance(meta, T.StructType)
    inner = {f.name: f.dataType for f in meta.fields}
    assert inner["host"] == T.StringType()
    assert inner["port"] == T.IntegerType()
    assert inner["geo"] == T.StructType([T.StructField("city", T.StringType())])


def test_flatten_names():
    st = properties_to_struct(A1_PROPERTIES, flatten=True)
    names = [f.name for f in st.fields]
    assert "meta_host" in names
    assert "meta_port" in names
    assert "meta_geo_city" in names
    assert "meta" not in names


def test_unhandled_string_fallback_and_warning():
    w = SchemaWarnings()
    st = properties_to_struct(A1_PROPERTIES, unhandled="string", warnings=w)
    assert dict((f.name, f.dataType) for f in st.fields)["mystery"] == T.StringType()
    assert ("mystery", "weird_type") in w.unhandled
    assert any("unhandled es mapping type" in m for m in w.messages())


def test_unhandled_skip():
    st = properties_to_struct(A1_PROPERTIES, unhandled="skip")
    assert "mystery" not in [f.name for f in st.fields]


def test_unhandled_error():
    with pytest.raises(ValueError, match="weird_type"):
        properties_to_struct(A1_PROPERTIES, unhandled="error")


def test_multivalue_array_mode():
    st = properties_to_struct({"name": {"type": "keyword"}}, multivalue="array")
    assert st.fields[0].dataType == T.ArrayType(T.StringType())


def test_mapping_response_es7():
    resp = {"idx-1": {"mappings": {"properties": A1_PROPERTIES}}}
    st = mapping_response_to_struct(resp)
    assert "id" in [f.name for f in st.fields]


def test_mapping_response_legacy_first_doctype_only():
    # pre-ES7 doc types: only the FIRST is used (reference :200-203)
    resp = {
        "idx-1": {
            "mappings": {
                "doc_a": {"properties": {"x": {"type": "long"}}},
                "doc_b": {"properties": {"y": {"type": "long"}}},
            }
        }
    }
    st = mapping_response_to_struct(resp)
    assert [f.name for f in st.fields] == ["x"]


def test_diff_schemas_drift():
    from dump_es_parquet_spark.schema import diff_schemas

    old = properties_to_struct(
        {
            "host": {"type": "keyword"},
            "port": {"type": "integer"},
            "meta": {"properties": {"city": {"type": "keyword"},
                                    "zip": {"type": "keyword"}}},
        }
    )
    new = properties_to_struct(
        {
            "host": {"type": "keyword"},
            "port": {"type": "long"},  # widened
            "meta": {"properties": {"city": {"type": "keyword"},
                                    "geo": {"type": "keyword"}}},
            "status": {"type": "keyword"},  # new field
        }
    )
    drift = {d["path"]: d for d in diff_schemas(old, new)}
    assert drift["port"]["change"] == "type_changed"
    assert (drift["port"]["old_type"], drift["port"]["new_type"]) == ("int", "bigint")
    assert drift["meta.zip"]["change"] == "removed"
    assert drift["meta.geo"]["change"] == "added"
    assert drift["status"]["change"] == "added"
    assert "host" not in drift and "meta.city" not in drift
    assert diff_schemas(old, old) == []


def test_merge_schemas_widening():
    from dump_es_parquet_spark.schema import merge_schemas, widen_types

    assert widen_types(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen_types(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert widen_types(T.LongType(), T.FloatType()) == T.DoubleType()
    assert widen_types(T.BooleanType(), T.LongType()) == T.StringType()
    a = T.StructType(
        [
            T.StructField("x", T.IntegerType()),
            T.StructField("m", T.StructType([T.StructField("c", T.FloatType())])),
        ]
    )
    b = T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("m", T.StructType([T.StructField("c", T.DoubleType()),
                                             T.StructField("d", T.StringType())])),
            T.StructField("y", T.StringType()),
        ]
    )
    m = merge_schemas(a, b)
    assert m["x"].dataType == T.LongType()
    assert m["m"].dataType["c"].dataType == T.DoubleType()
    assert m["m"].dataType["d"].dataType == T.StringType()
    assert [f.name for f in m.fields] == ["x", "m", "y"]


def test_union_evolved_frames(spark):
    from dump_es_parquet_spark.schema import union_evolved

    gen1 = spark.createDataFrame([(1, 2, 1.5)], "id int, port int, load float")
    gen2 = spark.createDataFrame(
        [(2, 3000000000, 2.5, "eu")], "id int, port long, load double, region string"
    )
    gen3 = spark.createDataFrame([(3, "n/a")], "id int, port string")
    u = union_evolved([gen1, gen2, gen3])
    assert u.schema["port"].dataType == T.StringType()  # int x string -> string
    assert u.schema["load"].dataType == T.DoubleType()
    rows = {r.id: r for r in u.collect()}
    assert rows[1].port == "2" and rows[1].region is None
    assert rows[2].port == "3000000000" and rows[2].region == "eu"
    assert rows[3].port == "n/a" and rows[3].load is None
    assert u.count() == 3


def test_union_evolved_struct_to_json(spark):
    from dump_es_parquet_spark.schema import union_evolved

    s1 = spark.createDataFrame([(1, {"a": 1})], "id int, meta struct<a:int>")
    s2 = spark.createDataFrame([(2, "raw")], "id int, meta string")
    u = union_evolved([s1, s2])
    rows = {r.id: r.meta for r in u.collect()}
    assert rows[1] == '{"a":1}' and rows[2] == "raw"


def test_struct_to_properties_inverts_type_table():
    from dump_es_parquet_spark.schema import (
        properties_to_struct,
        struct_to_properties,
    )

    st = T.StructType(
        [
            T.StructField("h", T.StringType()),
            T.StructField("p", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("f", T.FloatType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("t", T.TimestampType()),
            T.StructField(
                "m", T.StructType([T.StructField("c", T.StringType())])
            ),
        ]
    )
    # restore-side inverse composes with the dump-side map to identity
    assert properties_to_struct(struct_to_properties(st)) == st
    import pytest as _pytest

    with _pytest.raises(ValueError):
        struct_to_properties(
            T.StructType([T.StructField("x", T.MapType(T.StringType(), T.LongType()))])
        )


def test_unflatten_inverts_flatten(spark):
    """unflatten_to ∘ flatten = identity on the nested frame (all-NULL
    struct rows come back as NULL structs, not structs of NULLs)."""
    from dump_es_parquet_spark.coerce import parse_and_coerce
    from dump_es_parquet_spark.schema import unflatten_to

    st = properties_to_struct(
        {
            "host": {"type": "keyword"},
            "meta": {"properties": {"geo": {"properties": {
                "city": {"type": "keyword"}}},
                "rack": {"type": "integer"}}},
        }
    )
    docs = [
        '{"host": "a", "meta": {"geo": {"city": "x"}, "rack": 3}}',
        '{"host": "b", "meta": {"rack": 4}}',
        '{"host": "c"}',
    ]
    raw = spark.createDataFrame([(d,) for d in docs], ["value"])
    nested = parse_and_coerce(raw, st)
    flat = parse_and_coerce(raw, st, flatten=True)
    assert "meta_geo_city" in flat.columns
    rebuilt = unflatten_to(flat, st)
    assert rebuilt.schema == nested.schema
    key = lambda df: sorted(str(r) for r in df.collect())
    assert key(rebuilt) == key(nested)
    # host 'c' has no meta leaves -> NULL struct, matching the nested path
    assert rebuilt.where("host = 'c'").first().meta is None


def test_struct_to_properties_geo_point_roundtrip():
    from dump_es_parquet_spark.schema import (
        properties_to_struct,
        struct_to_properties,
    )

    st = properties_to_struct({"loc": {"type": "geo_point"},
                               "host": {"type": "keyword"}})
    props = struct_to_properties(st)
    assert props["loc"] == {"type": "geo_point"}  # not a nested object
    assert properties_to_struct(props) == st
