"""Pure-Python document coercion — the same semantics as
``coerce.py``'s Column-expression path, for contexts where rows are
already Python objects (the ``esdump`` Python DataSource readers,
where each hit arrives as a ``json.loads``-ed dict from the HTTP
response).

Mirrors the reference's ``map_source`` (``dump-es-parquet:112-183``)
branch-for-branch, with the engine's spec decisions (UTC, flatten
works, multivalue='array' mode). Kept deliberately tiny — the hot
analytical path is the expression version; this one only runs inside
the ``esdump`` batch reader and both stream readers, through
``sources.scan.coerce_hits``, where the data is Python-native anyway.

Known cosmetic divergence from the expression path: a JSON *number*
arriving in a string-typed field renders Python-style here
(``str(8.8e-16)`` → ``'8.8e-16'``) but Java-style in the JVM path
(``'8.8E-16'``). Same value, different float formatting; property
tests compare such strings numerically.

``tests/test_properties.py`` cross-checks both implementations on the
same documents.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from typing import Any

from pyspark.sql import types as T

from dump_es_parquet_spark.coerce import (
    EPOCH_SECONDS_MILLIS_CUTOFF,
    MAX_EPOCH_SECONDS,
    MIN_EPOCH_SECONDS,
)
from dump_es_parquet_spark.schema import FLATTEN_SEP

UTC = dt.timezone.utc

_EPOCH0 = dt.datetime(1970, 1, 1)
_MIN_DT = _EPOCH0 + dt.timedelta(seconds=MIN_EPOCH_SECONDS)
_MAX_DT = _EPOCH0 + dt.timedelta(seconds=MAX_EPOCH_SECONDS, microseconds=999_999)
#: Bare-digit wire value → always epoch (PARITY.md #18; mirrors the
#: expression path's ``rlike(r'^-?\d+$')`` gate).
_BARE_INT_RE = re.compile(r"^-?\d+$")
#: Spark's string→long cast grammar for the post-ISO fallback (accepts
#: a leading '+' the bare-int gate does not; no Python '1_0' digit
#: grouping, which int() would otherwise admit).
_CAST_LONG_RE = re.compile(r"^[+-]?\d+$")


def _epoch_timestamp(s: str) -> dt.datetime | None:
    """Integer-epoch branch with the seconds/millis cutoff (reference
    :149-160), clamped to years 1-9999 (PARITY.md #18) — exact integer
    arithmetic, matching Spark's ``timestamp_seconds``/``_millis``."""
    if not _CAST_LONG_RE.match(s):
        return None
    i = int(s)
    if not -(1 << 63) <= i < (1 << 63):  # try_cast long overflow → NULL
        return None
    if i < EPOCH_SECONDS_MILLIS_CUTOFF:
        if not MIN_EPOCH_SECONDS <= i <= MAX_EPOCH_SECONDS:
            return None
        return _EPOCH0 + dt.timedelta(seconds=i)
    if not MIN_EPOCH_SECONDS * 1000 <= i <= MAX_EPOCH_SECONDS * 1000 + 999:
        return None
    return _EPOCH0 + dt.timedelta(milliseconds=i)


def _coerce_timestamp(v: Any) -> dt.datetime | None:
    """ISO-8601 else epoch with the seconds/millis cutoff (reference
    :145-162); UTC, tz-naive output (matches the expression path).
    Bare-digit values (any length, incl. 8-digit ``yyyyMMdd``) skip the
    ISO parse entirely — PARITY.md #18."""
    s = str(v).strip()
    if _BARE_INT_RE.match(s):
        return _epoch_timestamp(s)
    try:
        d = dt.datetime.fromisoformat(s)
        if d.tzinfo is not None:
            d = d.astimezone(UTC).replace(tzinfo=None)
        if not _MIN_DT <= d <= _MAX_DT:  # same clamp as expression path
            return None
        return d
    except ValueError:
        return _epoch_timestamp(s)


_INT_RANGES = {
    T.ByteType: (-(1 << 7), (1 << 7) - 1),
    T.ShortType: (-(1 << 15), (1 << 15) - 1),
    T.IntegerType: (-(1 << 31), (1 << 31) - 1),
    T.LongType: (-(1 << 63), (1 << 63) - 1),
}


def _coerce_int(v: Any, dtype: T.DataType) -> int | None:
    try:
        i = int(v)
    except (ValueError, TypeError):
        try:
            i = int(float(v))  # "3.0" (reference :167-168)
        except (ValueError, TypeError):
            return None
    lo, hi = _INT_RANGES[type(dtype)]
    return i if lo <= i <= hi else None  # try_cast overflow → NULL


def coerce_value(v: Any, dtype: T.DataType, multivalue: str = "first"):
    """One value → target type, reference fallback semantics."""
    if v is None:
        return None
    if isinstance(v, list):
        if multivalue == "array":
            return [coerce_value(x, dtype.elementType if isinstance(dtype, T.ArrayType) else dtype) for x in v]
        if not v:  # empty list → missing (:136-137)
            return None
        v = v[0]  # first element (:132-135)
        if v is None:
            # [null] → NULL (the reference's str() branch would emit
            # the literal string "None" here — PARITY.md: NULL wins)
            return None
    if multivalue == "array" and isinstance(dtype, T.ArrayType):
        return [coerce_value(v, dtype.elementType)]
    if isinstance(dtype, T.StructType):
        if not isinstance(v, dict):
            return None
        return coerce_doc(v, dtype)
    if isinstance(dtype, T.TimestampType):
        return _coerce_timestamp(v)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _coerce_int(v, dtype)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        try:
            return float(v)
        except (ValueError, TypeError):
            return None
    if isinstance(dtype, T.BooleanType):
        if isinstance(v, bool):
            return v
        s = str(v).strip().lower()
        return {"true": True, "t": True, "1": True, "yes": True, "y": True,
                "false": False, "f": False, "0": False, "no": False,
                "n": False}.get(s)
    if isinstance(dtype, T.StringType):
        # objects JSON-serialize (engine spec; reference str()s them)
        if isinstance(v, (dict, list)):
            return json.dumps(v, separators=(",", ":"))
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)
    return v


def coerce_doc(
    src: dict, schema: T.StructType, multivalue: str = "first"
) -> tuple:
    """Document dict → tuple in schema field order (unknown fields
    dropped, missing fields None — reference :115-119)."""
    return tuple(
        coerce_value(src.get(f.name), f.dataType, multivalue) for f in schema.fields
    )


def flatten_doc(src: dict, prefix: str = "") -> dict:
    """Pre-flatten nested dicts with `_`-joined names so a flattened
    schema (``properties_to_struct(flatten=True)``) lines up."""
    out: dict = {}
    for k, v in src.items():
        if isinstance(v, dict):
            out.update(flatten_doc(v, prefix + k + FLATTEN_SEP))
        else:
            out[prefix + k] = v
    return out
