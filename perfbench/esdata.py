"""Seeded ES index generator for the ``dump_parquet`` workload.

Every index uses the FIXTURES.md A1 mapping plus an ``@timestamp`` date
(the program's default sort field). Documents are clean except for a
fixed share of planted A2 dirty cases, and the generator keeps, next to
each document, the typed row the dump must write for it and the warning
it must count. Nothing here imports the program: the expected rows are
derived from the generator's own values.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import struct

#: FIXTURES.md A1, plus ``@timestamp``.
MAPPING: dict = {
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
    "@timestamp": {"type": "date"},
}

#: Columns of the read-back check, in order: structs are read field by
#: field so both sides compare scalars.
CHECK_COLUMNS = [
    "id", "count_b", "count_s", "count_i", "ratio_h", "ratio_f", "ratio_d",
    "name", "body", "legacy", "active", "ts", "location_lat", "location_lon",
    "client_ip", "blob", "meta_host", "meta_port", "meta_geo_city", "mystery",
    "at_timestamp",
]

#: DuckDB projection producing ``CHECK_COLUMNS`` from a dumped index.
CHECK_SELECT = (
    'SELECT id, count_b, count_s, count_i, ratio_h, ratio_f, ratio_d, name, '
    'body, legacy, active, ts, location.lat, location.lon, client_ip, blob, '
    'meta.host, meta.port, meta.geo.city, mystery, "@timestamp"'
)

#: Planted cases that the dump must count as a warning, keyed by the
#: warning the program reports for them.
DIRTY_KINDS = (
    "ts_cast_failures",  # "ts": "not-a-date"
    "count_i_cast_failures",  # "count_i": "abc"
    "multivalue_collapsed",  # "name": ["a", "b"]
    "unknown_field_values",  # "extra_field": 1
)

#: Share of documents carrying one planted dirty case.
DIRTY_SHARE = 0.05

#: Documents per index of the ``dump_parquet`` workload: one large index
#: and two small ones. The large one holds most documents, so the
#: per-document work is about two fifths of a pass; the small ones are
#: mostly the per-index fixed cost.
INDEX_DOCS = (10_000, 300, 300)

WORDS = (
    "scan slice page cursor shard merge index field value query batch "
    "parquet schema mapping coerce flush write stream node cluster"
).split()
CITIES = ("chicago", "batavia", "geneva", "lisle", "aurora")
EPOCH0 = dt.datetime(1970, 1, 1)
TS_BASE_S = 1_700_000_000  # 2023-11-14


def _utc(seconds: int, millis: int = 0) -> dt.datetime:
    return EPOCH0 + dt.timedelta(seconds=seconds, milliseconds=millis)


def _float32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def _doc(rng: random.Random, i: int, dirty: str | None):
    """One ``_source`` document and the typed row the dump must write."""
    row: dict = dict.fromkeys(CHECK_COLUMNS)
    doc: dict = {}
    ts_millis = (TS_BASE_S + rng.randrange(30 * 86400)) * 1000 + rng.randrange(1000)
    doc["@timestamp"] = ts_millis
    row["at_timestamp"] = _utc(0, ts_millis)
    doc["id"] = row["id"] = i
    # Missing fields: one document in eight keeps only id, @timestamp, name.
    sparse = rng.random() < 0.125 and dirty is None
    name = rng.choice(WORDS) + "-" + str(rng.randrange(1000))
    doc["name"] = row["name"] = name
    if dirty == "multivalue_collapsed":
        doc["name"] = [name, rng.choice(WORDS)]
    if dirty == "unknown_field_values":
        doc["extra_field"] = rng.randrange(100)
    if sparse:
        return doc, row

    doc["count_b"] = row["count_b"] = rng.randrange(-128, 128)
    doc["count_s"] = row["count_s"] = rng.randrange(-32768, 32768)
    ci = rng.randrange(-(2**31), 2**31)
    if dirty == "count_i_cast_failures":
        doc["count_i"], row["count_i"] = "abc", None
    elif rng.random() < 0.05:  # A2 lenient case: "3.0" parses via float
        doc["count_i"], row["count_i"] = f"{ci % 1000}.0", ci % 1000
    else:
        doc["count_i"] = row["count_i"] = ci
    rh = rng.randrange(-1000, 1000) / 8  # exact in half precision
    rf = rng.randrange(-10**6, 10**6) / 100
    rd = rng.randrange(-10**9, 10**9) / 1000
    doc["ratio_h"], row["ratio_h"] = rh, rh
    doc["ratio_f"], row["ratio_f"] = rf, _float32(rf)
    doc["ratio_d"], row["ratio_d"] = rd, rd
    body = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(5, 60)))
    doc["body"] = row["body"] = body
    doc["legacy"] = row["legacy"] = rng.choice(WORDS)
    doc["active"] = row["active"] = rng.random() < 0.5
    secs = TS_BASE_S + rng.randrange(365 * 86400)
    shape = rng.randrange(3)
    if dirty == "ts_cast_failures":
        doc["ts"], row["ts"] = "not-a-date", None
    elif shape == 0:
        doc["ts"] = _utc(secs).isoformat()
        row["ts"] = _utc(secs)
    elif shape == 1:  # epoch seconds (< 2e10)
        doc["ts"], row["ts"] = secs, _utc(secs)
    else:  # epoch millis
        doc["ts"], row["ts"] = secs * 1000 + 250, _utc(secs, 250)
    lat = rng.randrange(-9000, 9000) / 100
    lon = rng.randrange(-18000, 18000) / 100
    doc["location"] = {"lat": lat, "lon": lon}
    row["location_lat"], row["location_lon"] = lat, lon
    doc["client_ip"] = row["client_ip"] = (
        f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"
    )
    blob = {"k": [rng.randrange(10), rng.randrange(10)], "tag": rng.choice(WORDS)}
    doc["blob"] = blob
    row["blob"] = json.dumps(blob, separators=(",", ":"))
    host = f"node-{rng.randrange(64)}"
    port = 9200 + rng.randrange(4)
    meta: dict = {"host": host, "port": port}
    row["meta_host"], row["meta_port"] = host, port
    if rng.random() < 0.7:
        city = rng.choice(CITIES)
        meta["geo"] = {"city": city}
        row["meta_geo_city"] = city
    doc["meta"] = meta
    doc["mystery"] = row["mystery"] = "m" + str(rng.randrange(10**6))
    return doc, row


def make_indices(seed: int, sizes: tuple[int, ...] = INDEX_DOCS) -> dict:
    """``{index: {"docs": [...], "rows": [...], "planted": {...}}}``, one
    index of ``sizes[n]`` documents named ``logs-<n>`` per entry.

    Dirty documents are spread evenly (every ``1/DIRTY_SHARE``-th, kind
    cycling), so each index's planted counts are exact and known.
    """
    rng = random.Random(seed)
    every = round(1 / DIRTY_SHARE)
    out: dict = {}
    for n, count in enumerate(sizes):
        name = f"logs-{n:03d}"
        docs, rows = [], []
        planted = dict.fromkeys(DIRTY_KINDS, 0)
        offset = rng.randrange(every)
        for i in range(count):
            dirty = None
            if i % every == offset:
                dirty = DIRTY_KINDS[(i // every) % len(DIRTY_KINDS)]
                planted[dirty] += 1
            doc, row = _doc(rng, i, dirty)
            docs.append(doc)
            rows.append(tuple(row[c] for c in CHECK_COLUMNS))
        out[name] = {"docs": docs, "rows": rows, "planted": planted}
    return out
