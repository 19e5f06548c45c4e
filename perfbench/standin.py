"""ES stand-in for the ``dump_parquet`` workload: one process, HTTP.

It answers the requests ``RestES`` makes during a dump — ``_settings``,
``_mapping``, ``_pit`` open/close and ``_search`` (plain, sliced,
``search_after``) — from the documents ``esdata.make_indices`` builds
from the seed. Search responses are serialized once and cached, and the
pages of the program's default scan shape are serialized before the
server starts answering, so a timed pass measures the program and not
this process.

It also counts what a real cluster would see (requests, connections,
bytes) and records every request shape ``tests/test_restes_contract.py``
would reject as a violation: a first page carrying ``search_after``, a
later page without it, a sort without a unique tie-breaker, a slice
without a PIT, a scroll on a PIT search, an unknown or closed PIT, and a
PIT still open when the pass ends.

Sort and slice semantics follow ``MockES``: slice ``i`` of ``n`` holds
the documents whose ordinal is ``i`` mod ``n``, a missing sort value
sorts last, ``_shard_doc`` is the ordinal and ``_id`` its string.

Run as a script it serves until terminated and writes ``<port>`` to
``--ready-file`` once the pages are serialized::

    python3 perfbench/standin.py --seed 1 --sizes 12000,300 --ready-file port.txt
"""

from __future__ import annotations

import argparse
import fnmatch
import itertools
import json
import os
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

#: The program's default scan shape (``ScanOptions``): pre-serialized.
DEFAULT_SORT = "@timestamp:asc,_shard_doc:asc"
DEFAULT_SLICES = 8
DEFAULT_SIZE = 500
TIEBREAKERS = ("_id", "_shard_doc")


def _sort_spec(sort: str | None) -> list[tuple[str, bool]]:
    if not sort:
        return []
    return [
        (p.partition(":")[0].strip(), p.partition(":")[2].strip() == "desc")
        for p in sort.split(",")
    ]


def _get_path(doc: dict, path: str):
    cur = doc
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _sort_value(ordinal: int, doc: dict, fld: str):
    if fld == "_id":
        return str(ordinal)
    if fld == "_shard_doc":
        return ordinal
    return _get_path(doc, fld)


class Store:
    """Documents, cached responses, counters and violations."""

    def __init__(self, indices: dict[str, list[dict]], mapping: dict):
        self.docs = indices
        self.mapping = mapping
        self.src = {n: [json.dumps(d) for d in docs] for n, docs in indices.items()}
        self.lock = threading.Lock()
        self._ordered: dict = {}
        self._pages: dict = {}
        self.pit_ids = itertools.count()
        self.pits: dict[str, dict] = {}
        self.reset()

    # -- counters -----------------------------------------------------
    def reset(self) -> None:
        with self.lock:
            self.counts = dict.fromkeys(
                ("requests", "search_requests", "pit_requests", "connections",
                 "bytes_in", "hits", "requested_hits"), 0)
            self.violations: list[str] = []
            self.slice_s: dict[str, list[float]] = {}
            self.cpu0 = time.process_time()

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                self.counts[k] += v

    def violation(self, msg: str) -> None:
        with self.lock:
            self.violations.append(msg)

    def stats(self) -> dict:
        with self.lock:
            open_pits = sorted(p["index"] for p in self.pits.values())
            return {
                **self.counts,
                "violations": self.violations
                + [f"{i}: PIT left open" for i in open_pits],
                "slice_s": self.slice_s,
                "cpu_s": time.process_time() - self.cpu0,
            }

    # -- responses ------------------------------------------------------
    def ordered(self, index: str, slice_spec, sort: str | None) -> list:
        """(sort values, ordinal) of one slice in sort order, cached."""
        key = (index, json.dumps(slice_spec), sort)
        got = self._ordered.get(key)
        if got is None:
            docs = self.docs[index]
            ords = range(len(docs))
            if slice_spec:
                ords = range(slice_spec["id"], len(docs), slice_spec["max"])
            spec = _sort_spec(sort)
            entries = [(o, [_sort_value(o, docs[o], f) for f, _ in spec]) for o in ords]
            for pos, (_, desc) in reversed(list(enumerate(spec))):
                entries.sort(key=lambda e: (e[1][pos] is None, e[1][pos]), reverse=desc)
            got = self._ordered[key] = (
                entries,
                {json.dumps(vals): n for n, (_, vals) in enumerate(entries)},
            )
        return got

    def page(self, index, slice_spec, sort, size, cursor, includes) -> tuple[bytes, int]:
        """Serialized response and hit count of one search page, cached
        by request shape."""
        key = (index, json.dumps(slice_spec), sort, size, json.dumps(cursor),
               json.dumps(includes))
        got = self._pages.get(key)
        if got is not None:
            return got
        entries, position = self.ordered(index, slice_spec, sort)
        start = 0
        if cursor is not None:
            start = position.get(json.dumps(cursor), -1) + 1
            if start == 0:  # a cursor that is no hit's sort values
                spec = _sort_spec(sort)
                start = next(
                    (n for n, (_, vals) in enumerate(entries)
                     if _after(vals, cursor, spec)), len(entries))
        parts = []
        for ordinal, vals in entries[start:start + size]:
            src = self.src[index][ordinal]
            if includes:
                doc = self.docs[index][ordinal]
                src = json.dumps({k: v for k, v in doc.items()
                                  if any(fnmatch.fnmatch(k, p) for p in includes)})
            hit = f'{{"_index":{json.dumps(index)},"_id":"{ordinal}","_score":null,"_source":{src}'
            if sort:
                hit += ',"sort":' + json.dumps(vals)
            parts.append(hit + "}")
        body = (
            '{"took":1,"timed_out":false,"hits":{"total":{"value":%d,"relation":"eq"},'
            '"max_score":null,"hits":[%s]}}' % (len(entries), ",".join(parts))
        ).encode()
        got = self._pages[key] = (body, len(parts))
        return got

    def warm(self) -> None:
        """Serialize every page of the default scan shape (the final
        empty page included), and each index's unsorted first page (the
        program's sizing sample)."""
        size = DEFAULT_SIZE
        for index in self.docs:
            self.page(index, None, None, size, None, None)
            for sid in range(DEFAULT_SLICES):
                spec = {"id": sid, "max": DEFAULT_SLICES}
                entries, _ = self.ordered(index, spec, DEFAULT_SORT)
                ends = list(range(size - 1, len(entries), size))
                if len(entries) % size:
                    ends.append(len(entries) - 1)
                for cursor in [None] + [entries[i][1] for i in ends]:
                    self.page(index, spec, DEFAULT_SORT, size, cursor, None)


def _after(vals: list, cursor: list, spec) -> bool:
    """Strictly after ``cursor`` in sort order (``MockES._after_cursor``)."""
    for v, c, (_, desc) in zip(vals, cursor, spec):
        if v == c:
            continue
        lt = (v is None, v) < (c is None, c)
        return lt if desc else not lt
    return False


class Handler(BaseHTTPRequestHandler):
    store: Store  # set on the per-server subclass
    # keep-alive capable: ``connections`` counts what the client opens
    protocol_version = "HTTP/1.1"

    def log_message(self, *a):
        pass

    def setup(self):
        super().setup()
        self.store.add(connections=1)

    def _send(self, body: bytes | dict, code: int = 200, count: bool = True) -> None:
        if isinstance(body, dict):
            body = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        if count:
            self.store.add(bytes_in=len(body))

    def _request(self):
        parsed = urllib.parse.urlparse(self.path)
        params = dict(urllib.parse.parse_qsl(parsed.query))
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        body = json.loads(raw) if raw else {}
        if parsed.path.startswith("/_perfbench/"):  # the benchmark's own
            self.store.add(connections=-1)
        else:
            self.store.add(requests=1)
        return parsed.path, params, body

    def _reject(self, msg: str, code: int = 400) -> None:
        self.store.violation(msg)
        self._send({"error": {"type": "illegal_argument_exception", "reason": msg}}, code)

    def do_GET(self):
        path, _, _ = self._request()
        store = self.store
        if path == "/_perfbench/stats":
            self._send(store.stats(), count=False)
        elif path.endswith("/_settings"):
            pattern = path[1:].rsplit("/", 1)[0]
            names = fnmatch.filter(sorted(store.docs), pattern)
            self._send({n: {"settings": {"index": {"number_of_shards": "1"}}}
                        for n in names})
        elif path.endswith("/_mapping"):
            index = path[1:].rsplit("/", 1)[0]
            if index not in store.docs:
                return self._reject(f"{index}: no such index", 404)
            self._send({index: {"mappings": {"properties": store.mapping}}})
        else:
            self._reject(f"unsupported GET {path}", 404)

    def do_DELETE(self):
        path, _, body = self._request()
        if path != "/_pit":
            return self._reject(f"unsupported DELETE {path}", 404)
        self.store.add(pit_requests=1)
        with self.store.lock:
            pit = self.store.pits.pop(body.get("id"), None)
            if pit is not None:
                self.store.slice_s.setdefault(pit["index"], []).append(
                    time.perf_counter() - pit["opened"])
        if pit is None:
            return self._reject(f"close of unknown PIT {body.get('id')!r}", 404)
        self._send({"succeeded": True, "num_freed": 1})

    def do_POST(self):
        path, params, body = self._request()
        store = self.store
        if path == "/_perfbench/reset":
            store.reset()
            return self._send({"ok": True}, count=False)
        if path.endswith("/_pit"):
            index = path[1:].rsplit("/", 1)[0]
            store.add(pit_requests=1)
            if index not in store.docs:
                return self._reject(f"{index}: PIT on missing index", 404)
            pid = f"pit-{next(store.pit_ids)}"
            with store.lock:
                store.pits[pid] = {"index": index, "pages": 0,
                                   "opened": time.perf_counter()}
            return self._send({"id": pid})
        if not path.endswith("/_search"):
            return self._reject(f"unsupported POST {path}", 404)
        store.add(search_requests=1)
        sort = params.get("sort")
        size = int(params.get("size", "10"))
        cursor = body.get("search_after")
        slice_spec = body.get("slice")
        if "q" in params or "query" in body:
            return self._reject("query filtering is not served by the stand-in")
        if "scroll" in params:
            return self._reject("scroll cursor requested; the dump uses search_after")
        if body.get("pit"):
            pid = body["pit"].get("id")
            with store.lock:
                pit = store.pits.get(pid)
                first = pit is not None and pit["pages"] == 0
                if pit is not None:
                    pit["pages"] += 1
            if pit is None:
                return self._reject(f"search on unknown or closed PIT {pid!r}", 404)
            index = pit["index"]
            if path != "/_search":
                return self._reject(f"{index}: PIT search addressed {path}")
            fields = [f for f, _ in _sort_spec(sort)]
            if not fields or fields[-1] not in TIEBREAKERS:
                return self._reject(f"{index}: sort {sort!r} has no unique tie-breaker")
            if first and cursor is not None:
                return self._reject(f"{index}: first page carries search_after")
            if not first and cursor is None:
                return self._reject(f"{index}: later page without search_after")
        else:
            index = path[1:].rsplit("/", 1)[0]
            if index not in store.docs:
                return self._reject(f"{index}: no such index", 404)
            if slice_spec:
                return self._reject(f"{index}: slice without a PIT")
            if cursor is not None and not sort:
                return self._reject(f"{index}: search_after without a sort")
        data, hits = store.page(index, slice_spec, sort, size, cursor, body.get("_source"))
        store.add(hits=hits, requested_hits=size)
        self._send(data)


def serve(indices: dict[str, list[dict]], mapping: dict):
    """Start a stand-in in a thread on a free port; returns the server
    (``.store``, ``.server_address``)."""
    store = Store(indices, mapping)
    store.warm()
    handler = type("BoundHandler", (Handler,), {"store": store})
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    server.store = store
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sizes", required=True, help="documents per index, comma-separated")
    ap.add_argument("--ready-file", required=True)
    args = ap.parse_args(argv)
    from esdata import MAPPING, make_indices

    indices = make_indices(args.seed, tuple(int(n) for n in args.sizes.split(",")))
    server = serve({n: v["docs"] for n, v in indices.items()}, MAPPING)
    tmp = args.ready_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, args.ready_file)
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        pass
    finally:
        server.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
