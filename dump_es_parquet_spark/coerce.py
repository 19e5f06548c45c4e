"""Document coercion as Catalyst Column expressions.

Re-expresses the reference's per-value Python coercion loop
(``map_source``, ``dump-es-parquet:112-183``) as pure Spark SQL
expressions — the whole path stays inside whole-stage codegen; there is
no Python UDF anywhere in the hot path.

Strategy (wire columns, one parse per struct level):

1. ``with_wires`` parses each struct level exactly **once** into named
   *wire columns* — one ``select`` per nesting depth. The root level
   parses the document text; each nested level parses its parent's
   (multi-value-collapsed) field text, so nested objects behave exactly
   like the top level (the reference's ``map_source`` recursion). Each
   level gets three columns:

   - *scalar wire*: ``from_json`` with every field ``StringType``.
     Spark's JSON parser stores the raw JSON text for non-string
     values, so ``3`` → ``"3"``, ``[1,2]`` → ``"[1,2]"``,
     ``{"a":1}`` → ``"{\"a\":1}"``.
   - *array wire*: ``from_json`` with every field ``array<string>``.
     Scalars parse to NULL here; only genuine JSON arrays survive. This
     disambiguates a real multi-value field from a string that merely
     *looks* like ``"[1,2]"`` — by JSON syntax, at every nesting depth —
     something the reference gets for free from Python
     ``type(v) is list`` (``:132``).
   - *keys*: ``json_object_keys`` of the level's text — NULL unless the
     text is a JSON object (the nested-struct NULL gate) and the source
     of the unknown-key warning count.

   Both ``parse_and_coerce``'s typed projection and the warning
   aggregates (``warning_aggregates``) only *index* these columns
   (``F.col(wire)[name]``), and share each leaf's cast expression
   (``Wires.leaves``); neither contains a ``from_json``. This is
   what keeps the parse count at two per level: Catalyst's
   ``OptimizeCsvJsonExprs`` rewrites every ``from_json(text, s).field``
   it can see into its own single-field ``from_json``, so a projection
   that inlined the parse into each field access would parse each
   document once per *field* (48 times for the FIXTURES.md A1 mapping
   instead of 8). A wire column is referenced many times, so
   ``CollapseProject`` keeps it in its own Project and the rule has
   nothing to prune. The warning observation sits between the wires
   and the typed projection (``parse_and_coerce(observation=...)``),
   reading the same parsed columns.

2. Per field: if the array-wire value is non-null → multi-value field →
   collapse to its first element (reference ``:129-137``: "Taking the
   first value is an imperfect compromise"), empty array → missing
   (``:136-137``). ``multivalue='array'`` instead keeps every element
   (engine extension, SURVEY.md §1.2).

3. The surviving scalar string is cast to the schema type with the
   reference's fallback semantics (``:145-180``):

   - date: ISO-8601, else integer epoch with the seconds-vs-millis
     heuristic at threshold ``20_000_000_000`` (``:149-160``)
   - int: direct parse, else via float (``int(float("3.0"))``,
     ``:163-170``)
   - float/string/bool: plain casts
   - failures → NULL (the reference drops the value + warns; warning
     *counts* are exposed as observe() aggregates — see
     ``warning_aggregates``).

Unknown document fields are dropped implicitly (from_json ignores keys
not in the schema — reference drops them with a counted warning,
``:115-119``; the count comes from each level's keys wire minus the
schema's field names).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dump_es_parquet_spark.schema import FLATTEN_SEP

#: Reference epoch seconds-vs-millis cutoff (dump-es-parquet:151):
#: values < 2e10 are seconds ("Tue Oct 11 2603"), else milliseconds.
EPOCH_SECONDS_MILLIS_CUTOFF = 20_000_000_000

#: Representable-timestamp clamp (engine spec, PARITY.md #18): results
#: outside Python's datetime range (years 1-9999) become NULL with a
#: cast-failure warning instead of crashing driver materialization
#: (``collect()``/``toPandas()`` convert Spark timestamps to
#: ``datetime.datetime``, which raises outside this range). Padded one
#: day inside the exact year-1/9999 edges because PySpark's
#: ``TimestampType.fromInternal`` converts through the *local* zone —
#: the exact UTC edge would still underflow on a west-of-UTC driver.
MIN_EPOCH_SECONDS = -62_135_510_400  # 0001-01-02T00:00:00Z
MAX_EPOCH_SECONDS = 253_402_214_399  # 9999-12-30T23:59:59Z


# ---------------------------------------------------------------------------
# wire schemas
# ---------------------------------------------------------------------------


def scalar_wire_struct(schema: T.StructType) -> T.StructType:
    """ONE parse level: every field — struct fields included — becomes
    StringType. Spark's JSON parser stores the raw JSON text of
    whatever the value is (number, bool, array, **object**), so each
    nested object survives as text and ``with_wires`` can parse it
    the same way as its own level one depth down. This is what makes
    nested levels behave identically to the top level (the reference's
    ``map_source`` recursion): a nested ``{"port":[9200,9300]}`` is
    still a *JSON array token* when its level is parsed, never a quoted
    string."""
    return T.StructType(
        [T.StructField(f.name, T.StringType()) for f in schema.fields]
    )


def array_wire_struct(schema: T.StructType) -> T.StructType:
    """ONE parse level where every field is ``array<string>`` — only
    genuine JSON arrays survive (scalars/objects/strings parse to
    NULL), with elements as raw JSON text. Disambiguates a real
    multi-value field from a string that merely looks like "[1,2]" by
    JSON *syntax*, not text sniffing."""
    return T.StructType(
        [T.StructField(f.name, T.ArrayType(T.StringType())) for f in schema.fields]
    )


# ---------------------------------------------------------------------------
# leaf casts (reference :145-180)
# ---------------------------------------------------------------------------


def coerce_timestamp(s: Column) -> Column:
    """ISO-8601 parse, else integer-epoch with the seconds/millis
    heuristic (reference :145-162). All-UTC (engine spec decision; the
    reference uses the local zone via ``datetime.fromtimestamp``).

    Spec decisions pinned in PARITY.md #18:

    - EVERY bare-digit value (``^-?\\d+$``, any length — including the
      8-digit ``yyyyMMdd`` shape Python's ``fromisoformat`` would read
      as a basic-format date) is an epoch under the 2e10 cutoff. The
      reference's string path parses ``"20240101"`` as a date but
      raises an uncaught TypeError on true JSON ints
      (``fromisoformat(int)``, :147); we pin one uniform behavior for
      both wire shapes instead.
    - Any result outside years 1-9999 → NULL (counted as a cast
      failure) so no coerced value can ever crash ``collect()``:
      Spark's year-only literal parse (``try_to_timestamp('1000')`` →
      year 1000) is fine, but year -1000 or 10000+ breaks Python
      ``datetime`` during row materialization.
    """
    st = F.trim(s)
    as_long = st.try_cast("long")  # overflow beyond int64 → NULL
    secs = F.when(
        as_long.between(MIN_EPOCH_SECONDS, MAX_EPOCH_SECONDS),
        F.timestamp_seconds(as_long),
    )
    millis = F.when(
        as_long.between(MIN_EPOCH_SECONDS * 1000, MAX_EPOCH_SECONDS * 1000 + 999),
        F.timestamp_millis(as_long),
    )
    epoch = F.when(as_long < F.lit(EPOCH_SECONDS_MILLIS_CUTOFF), secs).otherwise(
        millis
    )
    is_bare_int = st.rlike(r"^-?\d+$")
    iso = F.try_to_timestamp(st)
    iso_clamped = F.when(
        F.unix_micros(iso).between(
            MIN_EPOCH_SECONDS * 1_000_000, (MAX_EPOCH_SECONDS + 1) * 1_000_000 - 1
        ),
        iso,
    )
    # Non-integer strings: ISO first, then the reference's int()
    # fallback (covers '+5' and other cast-to-long-parseable forms).
    return F.when(is_bare_int, epoch).otherwise(F.coalesce(iso_clamped, epoch))


def _bool_wire_as_num(s: Column) -> Column:
    """JSON booleans reaching a numeric field: Python ``int(False)`` is
    0 (reference :166), so 'true'/'false' wire text maps to 1/0."""
    low = F.lower(F.trim(s))
    return F.when(low == "true", F.lit(1)).when(low == "false", F.lit(0))


def coerce_integral(s: Column, dtype: T.DataType) -> Column:
    """``int(v)`` with ``int(float(v))`` fallback (reference :163-170) —
    handles ``"3.0"`` → 3; cast double→int truncates toward zero in
    both Python and Spark; booleans count as 0/1 like Python int()."""
    name = dtype.simpleString()  # tinyint/smallint/int/bigint
    direct = F.trim(s).try_cast(name)
    via_double = F.trim(s).try_cast("double").try_cast(name)
    return F.coalesce(direct, via_double, _bool_wire_as_num(s).cast(name))


def coerce_leaf(s: Column, dtype: T.DataType) -> Column:
    """String wire value → target scalar type with reference fallback
    semantics."""
    if isinstance(dtype, T.TimestampType):
        return coerce_timestamp(s)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return coerce_integral(s, dtype)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.coalesce(
            F.trim(s).try_cast(dtype.simpleString()),
            _bool_wire_as_num(s).cast(dtype.simpleString()),
        )
    if isinstance(dtype, T.BooleanType):
        return F.trim(s).try_cast("boolean")
    if isinstance(dtype, T.StringType):
        return s  # raw JSON text — objects stay JSON-serialized (:176-180)
    # Unreached for the supported type table; safety net.
    return s.try_cast(dtype.simpleString())


# ---------------------------------------------------------------------------
# wire columns: each struct level parsed once
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Wires:
    """Where ``with_wires`` put each struct level's parse: struct path
    (``()`` for the document root) → names of its ``(scalar, array,
    keys)`` wire columns."""

    schema: T.StructType
    levels: dict[tuple[str, ...], tuple[str, str, str]]

    def columns(self, path: tuple[str, ...]) -> tuple[Column, Column, Column]:
        return tuple(F.col(n) for n in self.levels[path])

    @cached_property
    def leaves(self) -> dict[tuple[str, ...], tuple[Column, Column]]:
        """Leaf path → (its collapsed wire text, that text cast to the
        leaf type — the element type of an ``ArrayType`` leaf), built
        once and shared by the typed projection and the cast-failure
        counts."""
        out: dict[tuple[str, ...], tuple[Column, Column]] = {}

        def visit(path: tuple[str, ...], schema: T.StructType) -> None:
            scalar, arrays, _ = self.columns(path)
            for f in schema.fields:
                dt = f.dataType
                if isinstance(dt, T.StructType):
                    visit(path + (f.name,), dt)
                    continue
                picked = _picked(scalar[f.name], arrays[f.name])
                out[path + (f.name,)] = (picked, coerce_leaf(picked, _element_type(dt)))

        visit((), self.schema)
        return out


def _element_type(dt: T.DataType) -> T.DataType:
    """A leaf's scalar type: ``multivalue='array'`` schemas declare
    ``ArrayType`` leaves whose elements are what gets cast."""
    return dt.elementType if isinstance(dt, T.ArrayType) else dt


def _picked(scalar: Column, arrays: Column) -> Column:
    """One field's value after multi-value collapse: the first element
    of a JSON array, an empty array → missing (reference :132-137;
    ``F.get`` is 0-indexed and null-safe under ANSI), else the scalar
    wire text."""
    return F.when(arrays.isNotNull(), F.get(arrays, 0)).otherwise(scalar)


def with_wires(
    df: DataFrame, schema: T.StructType, value_col: str = "value"
) -> tuple[DataFrame, Wires]:
    """Append the wire columns of every struct level of ``schema`` to
    ``df``: one ``select`` per nesting depth, each level's text parsed
    exactly once (module docstring, step 1). The root level parses
    ``value_col``; a nested level parses its field's collapsed text from
    the parent level's wires. Wire names start with a prefix that no
    column of ``df`` starts with, so no input column — nor a document
    field literally called ``value`` — is ever shadowed."""
    prefix = "_wire"
    while any(c.startswith(prefix) for c in df.columns):
        prefix = "_" + prefix
    levels: dict[tuple[str, ...], tuple[str, str, str]] = {}
    depth = [((), schema, F.col(value_col))]
    while depth:
        cols, below = [], []
        for path, struct, text in depth:
            names = tuple(f"{prefix}{len(levels)}_{k}" for k in "sak")
            levels[path] = names
            cols += [
                F.from_json(text, scalar_wire_struct(struct)).alias(names[0]),
                F.from_json(text, array_wire_struct(struct)).alias(names[1]),
                F.json_object_keys(text).alias(names[2]),
            ]
            scalar, arrays = F.col(names[0]), F.col(names[1])
            below += [
                (path + (f.name,), f.dataType, _picked(scalar[f.name], arrays[f.name]))
                for f in struct.fields
                if isinstance(f.dataType, T.StructType)
            ]
        df = df.select("*", *cols)
        depth = below
    return df, Wires(schema, levels)


# ---------------------------------------------------------------------------
# struct recursion + multi-value collapse
# ---------------------------------------------------------------------------


def _coerce_struct(
    wires: Wires, path: tuple[str, ...], schema: T.StructType, multivalue: str
) -> list[tuple[str, Column]]:
    """Coerce one struct level → list of (name, typed Column), reading
    only that level's wire columns. A nested struct field reads its own
    level's wires, so multi-value collapse and array detection work
    identically at every depth — mirroring the reference's
    ``map_source`` recursion (dump-es-parquet:112-144).
    """
    scalar, arrays, _ = wires.columns(path)
    out: list[tuple[str, Column]] = []
    for f in schema.fields:
        s = scalar[f.name]
        a = arrays[f.name]
        if isinstance(f.dataType, T.StructType):
            sub_path = path + (f.name,)
            sub = _coerce_struct(wires, sub_path, f.dataType, multivalue)
            keys = wires.columns(sub_path)[2]
            out.append(
                (
                    f.name,
                    # from_json yields an all-NULL row (not a NULL
                    # struct) for non-object text, so gate on "is this
                    # a JSON object" to keep NULL semantics
                    F.when(
                        keys.isNotNull(), F.struct(*[c.alias(n) for n, c in sub])
                    ),
                )
            )
        elif multivalue == "array":
            # engine extension: true ArrayType column. The output
            # schema may already declare ArrayType leaves.
            elem_dt = _element_type(f.dataType)
            arr = F.coalesce(a, F.when(s.isNotNull(), F.array(s)))

            def _elem_coercer(dt):
                return lambda x: coerce_leaf(x, dt)

            out.append((f.name, F.transform(arr, _elem_coercer(elem_dt))))
        else:
            out.append((f.name, wires.leaves[path + (f.name,)][1]))
    return out


def _flatten_columns(
    cols: list[tuple[str, Column]], schema: T.StructType, prefix: str = ""
) -> list[Column]:
    """Struct columns → `_`-joined leaf columns (reference flatten
    intent, ``map_properties`` :101-105; the reference's row-level
    flatten at :140-141 is dead code — we implement the documented
    intent, SURVEY.md op #18)."""
    out: list[Column] = []
    for (name, col), f in zip(cols, schema.fields):
        if isinstance(f.dataType, T.StructType):
            sub = [(sf.name, col[sf.name]) for sf in f.dataType.fields]
            out.extend(_flatten_columns(sub, f.dataType, prefix + name + FLATTEN_SEP))
        else:
            out.append(col.alias(prefix + name))
    return out


def parse_and_coerce(
    df: DataFrame,
    schema: T.StructType,
    *,
    value_col: str = "value",
    flatten: bool = False,
    multivalue: str = "first",
    keep_raw: bool = False,
    observation: Observation | None = None,
) -> DataFrame:
    """Raw-JSON DataFrame (one ``_source`` doc per row in ``value_col``)
    → typed DataFrame matching ``schema``.

    The full reference coercion pipeline (ops #11-#18 of SURVEY.md §2):
    the wire columns (``with_wires``), then one declarative projection
    over them — Catalyst sees every cast and keeps the whole thing in
    codegen over the scan.

    ``observation`` collects ``warning_aggregates`` on the wired frame,
    between the parse and the typed projection, so the warning report
    reads the same parsed columns and rides the first action on the
    returned frame (no second pass over the data).
    """
    wired, wires = with_wires(df, schema, value_col)
    if observation is not None:
        aggs = warning_aggregates(wires)
        wired = wired.observe(observation, *[c.alias(n) for n, c in aggs.items()])
    cols = _coerce_struct(wires, (), schema, multivalue)
    if flatten:
        projected = _flatten_columns(cols, schema)
    else:
        projected = [c.alias(n) for n, c in cols]
    if keep_raw:
        projected = projected + [F.col(value_col).alias("_raw")]
    return wired.select(*projected)


# ---------------------------------------------------------------------------
# warning-count observability (reference log_warning, :85, 304-305)
# ---------------------------------------------------------------------------


def warning_aggregates(wires: Wires) -> dict[str, Column]:
    """Aggregate Columns over a ``with_wires`` frame (for
    ``df.observe(...)``) reproducing the reference's end-of-run warning
    report (``msg [N documents]``, ``:304-305, 352-353``) without a
    second pass over the data. Like the reference's ``map_source``
    recursion, every struct level counts, not only the top one:

    - ``unknown_field_values``: total object keys not in the schema, at
      any depth (reference drops each with a warning, ``:115-119``)
    - ``multivalue_collapsed``: fields that were JSON arrays, at any
      depth (``field … is list - keeping first value``, ``:132-135``)
    - ``<dotted.path>_cast_failures``: per-leaf count of non-null wire
      values the cast dropped (``unable to convert field …``,
      ``:161-180``); a top-level leaf's path is its bare name.
    """
    unknown: list[Column] = []
    multi: list[Column] = []
    failures: dict[str, Column] = {}

    def visit(path: tuple[str, ...], schema: T.StructType) -> None:
        _, arrays, keys = wires.columns(path)
        known = F.array(*[F.lit(f.name) for f in schema.fields])
        unknown.append(F.coalesce(F.size(F.array_except(keys, known)), F.lit(0)))
        # fields of this level that were JSON arrays (non-null array wire)
        multi.append(
            F.size(F.array_compact(F.array(*[arrays[f.name] for f in schema.fields])))
        )
        for f in schema.fields:
            if isinstance(f.dataType, T.StructType):
                visit(path + (f.name,), f.dataType)
            elif not isinstance(_element_type(f.dataType), T.StringType):
                picked, typed = wires.leaves[path + (f.name,)]
                name = ".".join(path + (f.name,)) + "_cast_failures"
                failures[name] = F.count_if(picked.isNotNull() & typed.isNull())

    visit((), wires.schema)
    return {
        "docs": F.count(F.lit(1)),
        "unknown_field_values": F.sum(sum(unknown, F.lit(0))),
        "multivalue_collapsed": F.sum(sum(multi, F.lit(0))),
        **failures,
    }
