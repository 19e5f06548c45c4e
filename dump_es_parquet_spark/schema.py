"""ES/OpenSearch index-mapping JSON → Spark ``StructType``.

Re-expresses the reference's type system (``dump-es-parquet:33-49``
``es2pl_type`` table, ``map_properties`` ``:97-110``, ``index_schema``
``:185-204``) as a pure function over the mapping-API response.

Differences from the reference, by design (SURVEY.md §1.2):

- unhandled mapping types default to ``StringType`` fallback (policy
  ``unhandled='string'``) instead of a ``None`` hole; ``'skip'`` and
  ``'error'`` policies are available. The reference logs
  ``unhandled es mapping type`` and leaves ``None`` (``:107-109``).
- an optional ``multivalue='array'`` mode wraps every leaf in
  ``ArrayType`` — ES allows any field to be multi-valued without
  declaring it; the reference collapses lists to their first element
  (``:129-137``, "an imperfect compromise"). Default stays
  reference-compatible (``'first'``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Reference es2pl_type table (dump-es-parquet:33-49), Spark targets per
# SURVEY.md §1.2.
ES_TO_SPARK: dict[str, T.DataType] = {
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "half_float": T.FloatType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),  # legacy ES type
    "text": T.StringType(),
    "keyword": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.TimestampType(),
    "geo_point": T.StructType(
        [
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
        ]
    ),
    "ip": T.StringType(),
    # propertyless `object` → JSON-serialized string (reference :48,
    # serialization via str() at :176-180; we use to_json semantics).
    "object": T.StringType(),
}

#: ES types whose values arrive as JSON objects and are serialized to a
#: JSON string column ("object" without properties).
JSON_SERIALIZED_TYPES = frozenset({"object"})

FLATTEN_SEP = "_"


@dataclass
class SchemaWarnings:
    """Collects schema-derivation warnings (reference logs these at
    :107-109; we surface them programmatically)."""

    unhandled: list[tuple[str, str]] = field(default_factory=list)  # (field, es_type)

    def messages(self) -> list[str]:
        return [
            f"unhandled es mapping type {t} for field {f}" for f, t in self.unhandled
        ]


def _leaf_type(es_type: str, unhandled: str, fld: str, warns: SchemaWarnings) -> T.DataType | None:
    dt = ES_TO_SPARK.get(es_type)
    if dt is not None:
        return dt
    warns.unhandled.append((fld, es_type))
    if unhandled == "string":
        return T.StringType()
    if unhandled == "skip":
        return None
    raise ValueError(f"unhandled es mapping type {es_type} for field {fld}")


def properties_to_struct(
    properties: dict,
    *,
    flatten: bool = False,
    prefix: str = "",
    unhandled: str = "string",
    multivalue: str = "first",
    warnings: SchemaWarnings | None = None,
) -> T.StructType:
    """``mapping['properties']`` dict → ``StructType``.

    Mirrors ``map_properties`` (dump-es-parquet:97-110): nested
    ``properties`` recurse into ``StructType`` columns, or — when
    ``flatten`` — into ``_``-joined top-level names (``README.md:14``:
    flattening is required for CSV and recommended for merging
    dynamically-mapped indices).

    ``multivalue='array'`` wraps each leaf in ``ArrayType`` (engine
    extension; the reference has no list type — SURVEY.md §1.2).
    """
    warns = warnings if warnings is not None else SchemaWarnings()
    fields: list[T.StructField] = []
    for fld, spec in properties.items():
        name = prefix + fld
        if "properties" in spec:
            sub = properties_to_struct(
                spec["properties"],
                flatten=flatten,
                prefix=(name + FLATTEN_SEP) if flatten else "",
                unhandled=unhandled,
                multivalue=multivalue,
                warnings=warns,
            )
            if flatten:
                fields.extend(sub.fields)
            else:
                fields.append(T.StructField(name, sub))
        else:
            dt = _leaf_type(spec.get("type", "object"), unhandled, name, warns)
            if dt is None:
                continue
            if multivalue == "array":
                dt = T.ArrayType(dt)
            fields.append(T.StructField(name, dt))
    return T.StructType(fields)


def mapping_response_to_struct(
    mapping_response: dict,
    *,
    flatten: bool = False,
    unhandled: str = "string",
    multivalue: str = "first",
    warnings: SchemaWarnings | None = None,
) -> T.StructType:
    """Full ``indices.get_mapping`` response → ``StructType``.

    Handles both layouts the reference handles (``index_schema``,
    dump-es-parquet:185-204):

    - ES7+/OpenSearch: ``{index: {mappings: {properties: {...}}}}``
    - legacy doc-types: ``{index: {mappings: {doctype: {properties:
      {...}}}}}`` — only the *first* doc type is used (``:200-203``).
    """
    for _idx, dts in mapping_response.items():
        mappings = dts["mappings"]
        if "properties" in mappings:
            props = mappings["properties"]
        else:
            # first doc type only (reference :200-203)
            first = next(iter(mappings.values()), {})
            props = first.get("properties", {})
        return properties_to_struct(
            props,
            flatten=flatten,
            unhandled=unhandled,
            multivalue=multivalue,
            warnings=warnings,
        )
    return T.StructType([])


def diff_schemas(
    old: T.StructType, new: T.StructType, prefix: str = ""
) -> list[dict]:
    """Schema drift between two dump generations' discovered schemas
    (re-dumping after a mapping change is routine ES operation; the
    reference rebuilds its schema from the live mapping every run,
    ``dump-es-parquet:51-80``, so drift is silent there — this makes
    it inspectable).

    Returns one record per changed leaf path:
    ``{"path", "change": added|removed|type_changed, "old_type",
    "new_type"}``. A field whose type changed from struct to leaf (or
    back) reports as ``type_changed`` at that path; matching structs
    recurse. Driver-side metadata work — no data is scanned; pair with
    ``snapshot_diff`` (row-level) for a full generation audit."""
    out: list[dict] = []
    old_fields = {f.name: f for f in old.fields}
    new_fields = {f.name: f for f in new.fields}
    for name, f in old_fields.items():
        p = prefix + name
        if name not in new_fields:
            out.append(
                {"path": p, "change": "removed",
                 "old_type": f.dataType.simpleString(), "new_type": None}
            )
            continue
        g = new_fields[name]
        both_struct = isinstance(f.dataType, T.StructType) and isinstance(
            g.dataType, T.StructType
        )
        if both_struct:
            out.extend(diff_schemas(f.dataType, g.dataType, p + "."))
        elif f.dataType != g.dataType:
            out.append(
                {"path": p, "change": "type_changed",
                 "old_type": f.dataType.simpleString(),
                 "new_type": g.dataType.simpleString()}
            )
    for name, g in new_fields.items():
        if name not in old_fields:
            out.append(
                {"path": prefix + name, "change": "added",
                 "old_type": None, "new_type": g.dataType.simpleString()}
            )
    return out


# ---------------------------------------------------------------------------
# schema-evolution union (multi-generation lakes)
# ---------------------------------------------------------------------------

#: numeric widening lattice (order = width); crossing the int/float
#: line resolves to double, anything else to string (lossless as text,
#: the reference's own fallback for unconvertible values, :176-180)
_INT_ORDER = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_ORDER = [T.FloatType(), T.DoubleType()]


def widen_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common supertype for evolved-schema unions."""
    if a == b:
        return a
    if a in _INT_ORDER and b in _INT_ORDER:
        return _INT_ORDER[max(_INT_ORDER.index(a), _INT_ORDER.index(b))]
    if a in _FLOAT_ORDER and b in _FLOAT_ORDER:
        return _FLOAT_ORDER[max(_FLOAT_ORDER.index(a), _FLOAT_ORDER.index(b))]
    num = set(_INT_ORDER) | set(_FLOAT_ORDER)
    if a in num and b in num:
        return T.DoubleType()
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return merge_schemas(a, b)
    return T.StringType()


def merge_schemas(a: T.StructType, b: T.StructType) -> T.StructType:
    """Union of fields, recursively widened; field order = ``a``'s
    order then ``b``-only fields in ``b``'s order (stable across
    repeated merges)."""
    bf = {f.name: f for f in b.fields}
    out = []
    for f in a.fields:
        if f.name in bf:
            out.append(T.StructField(f.name, widen_types(f.dataType, bf[f.name].dataType)))
        else:
            out.append(T.StructField(f.name, f.dataType))
    seen = {f.name for f in a.fields}
    out.extend(T.StructField(f.name, f.dataType) for f in b.fields if f.name not in seen)
    return T.StructType(out)


def _conform_col(col, src: T.DataType | None, dst: T.DataType):
    """Cast one column (possibly missing: src None) to the merged
    type; structs recurse field-wise, struct→string serializes as
    JSON (readable, greppable — not Spark's struct.toString)."""
    from pyspark.sql import functions as F

    if src is None:
        return F.lit(None).cast(dst)
    if src == dst:
        return col
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        return F.when(
            col.isNotNull(),
            F.struct(
                *[
                    _conform_col(
                        col[f.name],
                        next((g.dataType for g in src.fields if g.name == f.name), None),
                        f.dataType,
                    ).alias(f.name)
                    for f in dst.fields
                ]
            ),
        )
    if isinstance(src, T.StructType) and isinstance(dst, T.StringType):
        return F.to_json(col)
    return col.cast(dst)


def union_evolved(frames: list) -> "object":
    """Union DataFrames whose schemas drifted across dump generations
    (the multi-generation read the reference cannot express — it
    assumes every file of an index shares one mapping). Types widen
    along the numeric lattice, int×float crossings go to double,
    irreconcilable types fall back to string (struct→JSON), missing
    fields become NULL. One pass, no shuffle: each frame gets one
    conforming projection, then a by-position union of identical
    schemas."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not frames:
        raise ValueError("union_evolved needs at least one frame")
    merged = reduce(merge_schemas, (f.schema for f in frames))
    conformed = []
    for fr in frames:
        src = {f.name: f.dataType for f in fr.schema.fields}
        conformed.append(
            fr.select(
                *[
                    _conform_col(
                        F.col(f.name) if f.name in src else F.lit(None),
                        src.get(f.name),
                        f.dataType,
                    ).alias(f.name)
                    for f in merged.fields
                ]
            )
        )
    return reduce(lambda x, y: x.union(y), conformed)


# ---------------------------------------------------------------------------
# inverse type map (restore: DataFrame schema → index mapping)
# ---------------------------------------------------------------------------

#: Spark → ES leaf types, the restore-side inverse of ES_TO_SPARK.
#: Strings map to ``keyword`` (exact-match semantics — what the dump
#: side's coercion preserved; a search deployment may widen chosen
#: fields to ``text`` after restore). ES has no array types: element
#: types map directly (arrays are implicit per-document).
SPARK_TO_ES = {
    T.StringType(): "keyword",
    T.LongType(): "long",
    T.IntegerType(): "integer",
    T.ShortType(): "short",
    T.ByteType(): "byte",
    T.DoubleType(): "double",
    T.FloatType(): "float",
    T.BooleanType(): "boolean",
    T.TimestampType(): "date",
    T.BinaryType(): "binary",
}


def struct_to_properties(schema: T.StructType) -> dict:
    """DataFrame schema → ES mapping ``properties`` dict (structs →
    nested ``properties``, arrays → their element type). Raises on
    types ES cannot hold (MapType etc.) — restore callers should cast
    those to string/JSON first."""
    geo = ES_TO_SPARK["geo_point"]
    props: dict = {}
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            dt = dt.elementType
        if dt == geo:
            # the dump side maps geo_point → struct<lat,lon double>;
            # restore the SAME shape as geo_point (ES accepts {lat,lon}
            # objects for it), keeping the inverse composition exact
            props[f.name] = {"type": "geo_point"}
            continue
        if isinstance(dt, T.StructType):
            props[f.name] = {"properties": struct_to_properties(dt)}
            continue
        es = SPARK_TO_ES.get(dt)
        if es is None:
            raise ValueError(
                f"no ES mapping type for {f.name}: {dt.simpleString()}"
            )
        props[f.name] = {"type": es}
    return props


def unflatten_to(df, schema: T.StructType):
    """Inverse of the dump's ``flatten=True`` projection: rebuild the
    nested frame from ``{FLATTEN_SEP}``-joined leaf columns, guided by
    the TARGET schema (the original mapping's struct) — which resolves
    the ambiguity a blind split on ``_`` cannot (``meta_city`` the
    flattened path vs ``meta_city`` a literal field name: whichever
    the schema declares wins, preferring the literal column when both
    exist). Restore-side use: a flattened dump re-nests before
    ``restore_index`` so the index mapping keeps its object fields."""
    from pyspark.sql import functions as F

    def build(st: T.StructType, prefix: str):
        cols = []
        for f in st.fields:
            flat = f"{prefix}{f.name}"
            if isinstance(f.dataType, T.StructType) and flat not in df.columns:
                sub = build(f.dataType, flat + FLATTEN_SEP)
                cols.append(
                    F.when(
                        sum((c.isNotNull().cast("int") for c in sub), F.lit(0)) > 0,
                        F.struct(*[c.alias(g.name) for c, g in zip(sub, f.dataType.fields)]),
                    ).alias(f.name)
                )
            elif flat in df.columns:
                cols.append(F.col(flat).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return cols

    return df.select(*build(schema, ""))
