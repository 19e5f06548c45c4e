"""RestES contract tests against a real HTTP transport.

A stdlib HTTP server in a thread serves ES 7.17-shaped response JSON
(the shapes a real `/_search`, `/_search/scroll`, `/_pit`, `/_mapping`,
`/_settings` return) and records every request — so these tests pin
the exact requests RestES builds (URL params vs body interplay,
search_after omission on the first page, PIT addressing) *through
urllib*, not through MockES. One response-shape mismatch here would
break every real dump (SURVEY §5 / VERDICT r1 #10).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from dump_es_parquet_spark.sources.client import (
    RestES,
    iter_hits,
    iter_hits_search_after,
)

DOCS = [{"host": f"web-{i}", "load": i / 10.0} for i in range(5)]


def _sortvals(i: int, fields: list[str]) -> list:
    vals = []
    for f in fields:
        if f == "_id":
            vals.append(str(i))
        elif f == "_shard_doc":
            vals.append(i)
        else:
            vals.append(1_700_000_000_000 + i)
    return vals


class _Handler(BaseHTTPRequestHandler):
    requests: list[dict] = []  # class-level recorder
    pits_open: set = set()

    def log_message(self, *a):  # silence
        pass

    def _read_body(self):
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n)) if n else None

    def _send(self, obj, code=200):
        data = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _record(self, method):
        parsed = urllib.parse.urlparse(self.path)
        params = dict(urllib.parse.parse_qsl(parsed.query))
        body = self._read_body()
        rec = {"method": method, "path": parsed.path, "params": params,
               "body": body}
        _Handler.requests.append(rec)
        return rec

    def _hits_page(self, rec):
        params, body = rec["params"], rec["body"] or {}
        size = int(params.get("size", "500"))
        sort_fields = [p.partition(":")[0]
                       for p in params.get("sort", "").split(",") if p]
        start = 0
        if "search_after" in body:
            # cursor = sort values of the last hit of the previous
            # page; the unique tail (_id/_shard_doc) identifies it
            tail = body["search_after"][-1]
            start = int(tail) + 1
        idx = list(range(start, min(start + size, len(DOCS))))
        hits = []
        for i in idx:
            h = {"_index": "metrics", "_id": str(i), "_score": None,
                 "_source": DOCS[i]}
            if sort_fields:
                h["sort"] = _sortvals(i, sort_fields)
            hits.append(h)
        return hits, len(DOCS) - start

    def do_GET(self):
        rec = self._record("GET")
        if rec["path"].endswith("/_mapping"):
            self._send({"metrics": {"mappings": {"properties": {
                "host": {"type": "keyword"},
                "load": {"type": "double"}}}}})
        elif rec["path"].endswith("/_settings"):
            self._send({"metrics": {"settings": {"index": {
                "uuid": "x", "number_of_shards": "1"}}}})
        elif rec["path"].endswith("/_busy"):
            # transient server fault: 503 twice, then succeed — so a
            # retry loop can be observed converging
            n = sum(1 for r in _Handler.requests
                    if r["path"] == rec["path"])
            if n <= 2:
                self._send({"error": "overloaded"}, 503)
            else:
                self._send({"ok": True})
        elif rec["path"].endswith("/_throttle"):
            self._send({"error": "too many requests"}, 429)
        else:
            self._send({"error": "unknown"}, 404)

    created: dict = {}  # {index: mappings} via PUT

    def do_PUT(self):
        rec = self._record("PUT")
        idx = rec["path"].strip("/")
        _Handler.created[idx] = rec["body"]
        self._send({"acknowledged": True, "index": idx})

    def do_DELETE(self):
        rec = self._record("DELETE")
        if rec["path"] == "/_pit":
            _Handler.pits_open.discard(rec["body"]["id"])
            self._send({"succeeded": True, "num_freed": 1})
        else:
            self._send({"error": "unknown"}, 404)

    indexed: dict = {}  # {index: [(action, source), ...]} via _bulk

    def do_POST(self):
        # _bulk bodies are NDJSON, not JSON — branch before _record's
        # json.loads
        parsed = urllib.parse.urlparse(self.path)
        if parsed.path.endswith("/_bulk"):
            n = int(self.headers.get("Content-Length") or 0)
            lines = [
                json.loads(l)
                for l in self.rfile.read(n).decode().splitlines()
                if l.strip()
            ]
            idx = parsed.path.rsplit("/", 2)[-2]
            store = _Handler.indexed.setdefault(idx, [])
            items = []
            for action, source in zip(lines[0::2], lines[1::2]):
                store.append((action, source))
                items.append({"index": {"status": 201}})
            _Handler.requests.append(
                {"method": "POST", "path": parsed.path, "params": {},
                 "body": {"n_lines": len(lines)}}
            )
            self._send({"errors": False, "took": 1, "items": items})
            return
        rec = self._record("POST")
        path = rec["path"]
        if path.endswith("/_pit"):
            pid = "pit-abc123"
            _Handler.pits_open.add(pid)
            self._send({"id": pid})
        elif path == "/_search/scroll":
            sid = rec["body"]["scroll_id"]
            page_no = int(sid.rsplit("-", 1)[1]) + 1
            start = page_no * 2
            hits = [{"_index": "metrics", "_id": str(i), "_score": None,
                     "_source": DOCS[i]}
                    for i in range(start, min(start + 2, len(DOCS)))]
            self._send({"_scroll_id": f"scrollid-{page_no}",
                        "hits": {"total": {"value": len(DOCS)},
                                 "hits": hits}})
        elif path.endswith("/_search"):
            body = rec["body"] or {}
            if body.get("pit") and body["pit"]["id"] not in _Handler.pits_open:
                self._send({"error": {"type": "search_phase_execution_exception",
                                      "reason": "pit expired"}}, 404)
                return
            hits, total = self._hits_page(rec)
            resp = {"hits": {"total": {"value": total, "relation": "eq"},
                             "hits": hits}}
            if "scroll" in rec["params"]:
                resp["_scroll_id"] = "scrollid-0"
                # scroll: first page is fixed docs[0:2]
                resp["hits"]["hits"] = resp["hits"]["hits"][:2]
            self._send(resp)
        else:
            self._send({"error": "unknown"}, 404)


@pytest.fixture(scope="module")
def es_url():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


@pytest.fixture(autouse=True)
def _reset_recorder():
    _Handler.requests = []
    _Handler.pits_open = set()


def test_mapping_and_settings_paths(es_url):
    es = RestES(es_url)
    m = es.get_mapping("metrics")
    assert m["metrics"]["mappings"]["properties"]["host"]["type"] == "keyword"
    s = es.get_settings("metrics-*")
    assert "metrics" in s
    paths = [r["path"] for r in _Handler.requests]
    assert paths == ["/metrics/_mapping", "/metrics-*/_settings"]


def test_tls_context_built_once_and_client_still_pickles(monkeypatch):
    """One SSL context per client, not one per request (each build
    re-reads the CA bundle); a used client still pickles to executors
    and builds its own context there."""
    import io
    import ssl
    import urllib.request

    from pyspark import cloudpickle

    real = ssl.create_default_context
    built = []

    def counting(*args, **kwargs):
        built.append(kwargs.get("cafile"))
        return real(*args, **kwargs)

    def fake_urlopen(req, timeout=None, context=None):
        assert isinstance(context, ssl.SSLContext)
        return io.BytesIO(json.dumps({"path": req.full_url}).encode())

    monkeypatch.setattr(ssl, "create_default_context", counting)
    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    es = RestES("https://es.invalid:9200", verify_certs=False)
    for _ in range(3):
        es.get_mapping("metrics")
    es.search("metrics", size=1)
    assert len(built) == 1

    copy = cloudpickle.loads(cloudpickle.dumps(es))
    assert copy == es
    assert copy.get_mapping("m")["path"] == "https://es.invalid:9200/m/_mapping"
    assert len(built) == 2
    assert RestES("http://es.invalid")._ssl_context() is None


def test_scroll_flow_q_and_body_interplay(es_url):
    es = RestES(es_url)
    hits = list(iter_hits(
        es, "metrics", q="host:web-1 OR host:web-2", _source=["host"],
        sort="@timestamp:asc", size=2, scroll="5m", backoff_s=0,
    ))
    assert [h["_source"]["host"] for h in hits] == [d["host"] for d in DOCS]
    first = _Handler.requests[0]
    # q and sort ride the URL; _source rides the body — both must
    # arrive in the same request
    assert first["path"] == "/metrics/_search"
    assert first["params"]["q"] == "host:web-1 OR host:web-2"
    assert first["params"]["scroll"] == "5m"
    assert first["params"]["sort"] == "@timestamp:asc"
    assert first["body"] == {"_source": ["host"]}
    # continuation goes to /_search/scroll with the server's scroll id
    cont = _Handler.requests[1]
    assert cont["path"] == "/_search/scroll"
    assert cont["body"] == {"scroll": "5m", "scroll_id": "scrollid-0"}


def test_search_after_flow_first_page_omitted_and_cursor_echoed(es_url):
    es = RestES(es_url)
    hits = list(iter_hits_search_after(
        es, "metrics", q=None, _source=None, sort="@timestamp:asc",
        size=2, backoff_s=0,
    ))
    assert len(hits) == len(DOCS)
    searches = [r for r in _Handler.requests if r["path"].endswith("/_search")]
    # tie-breaker appended to the sort on every page
    assert all(r["params"]["sort"] == "@timestamp:asc,_id:asc"
               for r in searches)
    # no scroll context is opened in cursor mode
    assert all("scroll" not in r["params"] for r in searches)
    # first page: no search_after key at all (no body → None)
    first_body = searches[0]["body"] or {}
    assert "search_after" not in first_body
    # second page: cursor == the sort values of page 1's last hit
    assert searches[1]["body"]["search_after"] == [1_700_000_000_001, "1"]


def test_pit_flow(es_url):
    es = RestES(es_url)
    hits = list(iter_hits_search_after(
        es, "metrics", q=None, _source=None, sort="@timestamp:asc",
        size=2, backoff_s=0, pit=True, keep_alive="2m",
    ))
    assert len(hits) == len(DOCS)
    reqs = _Handler.requests
    assert reqs[0]["method"] == "POST"
    assert reqs[0]["path"] == "/metrics/_pit"
    assert reqs[0]["params"] == {"keep_alive": "2m"}
    searches = [r for r in reqs if r["path"] == "/_search"]
    assert searches, "PIT searches must address /_search without an index"
    for r in searches:
        assert r["body"]["pit"] == {"id": "pit-abc123", "keep_alive": "2m"}
        assert r["params"]["sort"] == "@timestamp:asc,_shard_doc:asc"
    assert reqs[-1] == {"method": "DELETE", "path": "/_pit", "params": {},
                        "body": {"id": "pit-abc123"}}
    assert not _Handler.pits_open  # closed on exhaustion


def test_cli_end_to_end_against_http_server(es_url, tmp_path, spark):
    """The full CLI path — argparse → RestES over real HTTP → sliced
    scan → coerce → parquet — against the recorded-response server.
    Also pins the reference flag surface: index is positional, --es is
    a flag (dump-es-parquet:370-371), --quiet suppresses logging."""
    from dump_es_parquet_spark.cli import main

    rc = main([
        "metrics", "--es", es_url, "--out", str(tmp_path),
        "--slices", "1", "--quiet",
    ])
    assert rc == 0
    back = spark.read.parquet(str(tmp_path / "metrics"))
    got = sorted(r.host for r in back.collect())
    assert got == [d["host"] for d in DOCS]


def test_http_4xx_is_fatal_and_never_retried(es_url):
    """VERDICT r2 #2: a 400/404 means the request itself is wrong —
    retrying can never succeed. It must surface as FatalHTTPError and
    pass straight through with_retry (under the reference-default
    max_retries=None, the old TransportError conflation retried a bad
    query forever)."""
    from dump_es_parquet_spark.sources.client import (
        FatalHTTPError, with_retry)

    es = RestES(es_url)
    with pytest.raises(FatalHTTPError) as ei:
        es._req("GET", "/nope/_unknown")
    assert ei.value.code == 404

    _Handler.requests = []
    with pytest.raises(FatalHTTPError):
        with_retry(lambda: es._req("GET", "/nope/_unknown"),
                   max_retries=5, backoff_s=0, sleep=lambda s: None)
    # fails fast: exactly one request hit the wire, zero retries
    assert len(_Handler.requests) == 1


def test_http_5xx_and_429_are_retryable(es_url):
    """5xx and 429 are server-side/transient: TransportError, so
    with_retry converges once the server recovers."""
    from dump_es_parquet_spark.sources.client import (
        TransportError, with_retry)

    es = RestES(es_url)
    with pytest.raises(TransportError):
        es._req("GET", "/busy/_throttle")  # 429 → retryable class

    _Handler.requests = []
    out = with_retry(lambda: es._req("GET", "/cluster/_busy"),
                     max_retries=5, backoff_s=0, sleep=lambda s: None)
    assert out == {"ok": True}
    # two 503s then success
    assert len(_Handler.requests) == 3


def test_restore_index_over_http(es_url, spark):
    """Distributed restore: typed frame -> per-partition _bulk over the
    real HTTP transport. JSON rendering is JVM-side (ISO timestamps,
    nested structs, nulls omitted); ids ride the action line so task
    retries overwrite idempotently."""
    import datetime as dt

    from dump_es_parquet_spark.restore import restore_index

    _Handler.indexed.clear()
    df = spark.createDataFrame(
        [
            (0, "web-0", dt.datetime(2026, 1, 1, 12, 0, 0), {"city": "x"}, 1.5),
            (1, "web-1", dt.datetime(2026, 1, 2, 0, 0, 0), {"city": "y"}, None),
        ],
        "doc_id long, host string, ts timestamp, meta struct<city:string>, load double",
    ).repartition(2)
    n = restore_index(
        df,
        lambda: RestES(es_url),
        "restored",
        id_col="doc_id",
        batch_size=1,
    )
    assert n == 2
    got = {a["index"]["_id"]: s for a, s in _Handler.indexed["restored"]}
    assert set(got) == {"0", "1"}
    assert got["0"]["host"] == "web-0" and got["0"]["meta"] == {"city": "x"}
    assert got["0"]["ts"].startswith("2026-01-01T12:00:00")
    assert "load" not in got["1"]  # null omitted — ES treats as absent


def test_restore_without_ids_and_mockes_bulk_protocol(spark):
    from dump_es_parquet_spark.restore import restore_index
    from dump_es_parquet_spark.sources import MockES

    # MockES driver-side protocol check (pickled copies can't test the
    # distributed path — the HTTP test above does)
    m = MockES({"idx": {"mapping": {}, "docs": []}})
    resp = m.bulk("idx", ['{"index": {}}', '{"a": 1}', '{"index": {}}', '{"a": 2}'])
    assert resp == {"errors": False,
                    "items": [{"index": {"status": 201}}] * 2}
    assert [d["a"] for d in m.fixture["idx"]["docs"]] == [1, 2]


def test_cli_restore_from_parquet(es_url, spark, tmp_path):
    from dump_es_parquet_spark.cli import main

    _Handler.indexed.clear()
    src = str(tmp_path / "dumped")
    spark.createDataFrame(
        [(i, f"web-{i}") for i in range(7)], "doc_id long, host string"
    ).write.parquet(src)
    rc = main(
        ["restored_cli", "--restore-from", src, "--restore-id-col", "doc_id",
         "--es", es_url, "--size", "3", "--quiet"]
    )
    assert rc == 0
    got = {a["index"]["_id"]: s for a, s in _Handler.indexed["restored_cli"]}
    assert set(got) == {str(i) for i in range(7)}
    assert got["3"] == {"doc_id": 3, "host": "web-3"}


def test_restore_create_index_puts_mapping(es_url, spark):
    """create_index=True PUTs an explicit mapping derived from the
    frame schema BEFORE any bulk task runs — no dynamic mapping."""
    import datetime as dt

    from dump_es_parquet_spark.restore import restore_index

    _Handler.indexed.clear()
    _Handler.created.clear()
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), {"city": "x"}, 2.5)],
        "doc_id long, ts timestamp, meta struct<city:string>, load double",
    )
    restore_index(
        df, lambda: RestES(es_url), "rt_http", id_col="doc_id",
        create_index=True,
    )
    props = _Handler.created["rt_http"]["mappings"]["properties"]
    assert props == {
        "doc_id": {"type": "long"},
        "ts": {"type": "date"},
        "meta": {"properties": {"city": {"type": "keyword"}}},
        "load": {"type": "double"},
    }
    assert len(_Handler.indexed["rt_http"]) == 1


def test_dump_restore_dump_roundtrip(spark, tmp_path):
    """The full circle: frame → restore (driver-side MockES: mapping +
    bulk) → dump pipeline (schema discovery + coercion) → frame. The
    restored index round-trips to the identical typed rows, proving
    the restore serialization and the dump coercion are inverses."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dump_es_parquet_spark.pipeline import dump
    from dump_es_parquet_spark.schema import struct_to_properties
    from dump_es_parquet_spark.sinks import SinkOptions
    from dump_es_parquet_spark.sources import MockES, ScanOptions

    df = spark.createDataFrame(
        [
            (0, "a", dt.datetime(2026, 1, 1, 12, 30), {"city": "x"}, 1.5, True),
            (1, "b", dt.datetime(2026, 2, 2, 0, 0, 1), {"city": "y"}, None, False),
        ],
        "doc_id long, host string, ts timestamp, meta struct<city:string>, "
        "load double, up boolean",
    )
    m = MockES({})
    m.create_index("rt", struct_to_properties(df.schema))
    from dump_es_parquet_spark.restore import source_lines

    lines = []
    for r in source_lines(df).collect():
        lines += ['{"index": {}}', r._src]
    m.bulk("rt", lines)

    res = dump(
        spark, lambda: m, "rt", str(tmp_path), ScanOptions(slices=1),
        SinkOptions(output="parquet"),
    )
    assert not res.errors
    back = spark.read.parquet(str(tmp_path / "rt")).select(*df.columns)
    want = {tuple(str(v) for v in r) for r in df.collect()}
    got = {tuple(str(v) for v in r) for r in back.collect()}
    assert got == want


def test_follow_restore_stream(es_url, spark, tmp_path):
    """Streaming replication: growing parquet dir -> per-batch _bulk;
    checkpoint resumes without re-shipping old rows, id lines make
    replays idempotent."""
    from dump_es_parquet_spark.restore import follow_restore

    _Handler.indexed.clear()
    src = str(tmp_path / "lake")
    ck = str(tmp_path / "ck")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, host string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, host string").parquet(src)
    q = follow_restore(stream, lambda: RestES(es_url), "repl", ck, id_col="doc_id")
    q.awaitTermination(60)
    assert {a["index"]["_id"] for a, _ in _Handler.indexed["repl"]} == {"1", "2"}

    spark.createDataFrame([(3, "c")], "doc_id long, host string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, host string").parquet(src)
    q = follow_restore(stream, lambda: RestES(es_url), "repl", ck, id_col="doc_id")
    q.awaitTermination(60)
    ids = [a["index"]["_id"] for a, _ in _Handler.indexed["repl"]]
    assert sorted(ids) == ["1", "2", "3"]  # no re-ship of 1,2
