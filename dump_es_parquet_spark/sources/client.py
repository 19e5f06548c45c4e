"""ES/OpenSearch client abstraction + in-process mock.

The reference talks to a live cluster through ``opensearch-py``
(``dump-es-parquet:71-83``). This engine defines a minimal client
protocol covering exactly the five server interactions the reference
uses — settings (index enumeration), mapping, search-with-scroll,
scroll-continue, plus (engine extension) ``search_after`` pagination —
and ships two implementations:

- ``MockES``: fixture-driven, picklable, used by the test-suite (the
  reference has no tests; SURVEY.md §5 calls for mocked-ES e2e tests).
  Supports *sliced* scans so the parallel scan path is exercised.
- ``RestES``: stdlib-``urllib`` JSON-over-HTTP client for real
  clusters (TLS options mirror reference ``:372-375``). Untested
  against a live server in this environment; kept thin.

Retry semantics: the reference retries forever with a flat 10 s sleep
on ``TransportError`` (``:189-194, 227-232, 296-299``). ``with_retry``
reproduces that as the default (``max_retries=None``) but lets callers
bound it — inside Spark tasks a *bounded* retry composes with Spark's
own task retry (``spark.task.maxFailures``), which is the scale-correct
design (SURVEY.md §4).
"""

from __future__ import annotations

import fnmatch
import itertools
import json
import re
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable


class TransportError(Exception):
    """Transient server/transport failure (named after the
    opensearch-py exception the reference catches)."""


class FatalHTTPError(Exception):
    """Non-retryable HTTP client error: a 4xx other than 429 means the
    request itself is wrong (bad query string, missing index, auth) —
    retrying can never succeed, so it must NOT be converted into
    ``TransportError`` (under the reference-default ``max_retries=None``
    that would retry a 400 forever)."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def with_retry(
    fn: Callable[[], Any],
    *,
    max_retries: int | None = None,
    backoff_s: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Run ``fn`` retrying on TransportError.

    ``max_retries=None`` → retry forever (reference behavior,
    ``dump-es-parquet:189-194``); otherwise raise after N retries.
    """
    attempt = 0
    while True:
        try:
            return fn()
        except TransportError:
            attempt += 1
            if max_retries is not None and attempt > max_retries:
                raise
            sleep(backoff_s)


# ---------------------------------------------------------------------------
# mock
# ---------------------------------------------------------------------------


def _get_path(doc: dict, path: str):
    cur: Any = doc
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _split_top_and(q: str) -> list[str]:
    """Split on ``" AND "`` at paren depth 0 only. Raises on
    unbalanced parens so mock-backed tests fail loudly instead of the
    fragmented clauses silently matching nothing."""
    parts: list[str] = []
    depth = 0
    start = 0
    i = 0
    while i < len(q):
        ch = q[i]
        if ch == "\\":  # escaped char: not structural (e.g. `f:\(`)
            i += 2
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced parens in query_string: {q!r}")
        elif depth == 0 and q.startswith(" AND ", i):
            parts.append(q[start:i])
            i += 5
            start = i
            continue
        i += 1
    if depth != 0:
        raise ValueError(f"unbalanced parens in query_string: {q!r}")
    parts.append(q[start:])
    return parts


def _is_wrapped(clause: str) -> bool:
    """True when the whole clause is one balanced paren group (the
    first ``(`` closes only at the final character)."""
    if not (clause.startswith("(") and clause.endswith(")")):
        return False
    depth = 0
    i = 0
    while i < len(clause):
        ch = clause[i]
        if ch == "\\":  # escaped char: not structural
            i += 2
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i == len(clause) - 1
        i += 1
    return False


def _ends_with_wildcard(s: str) -> bool:
    """True when the trailing ``*`` is an ACTIVE wildcard: preceded by
    an even number of backslashes (``a\\\\*`` = escaped backslash then
    wildcard; ``a\\*`` = literal asterisk)."""
    if not s.endswith("*"):
        return False
    n = 0
    i = len(s) - 2
    while i >= 0 and s[i] == "\\":
        n += 1
        i -= 1
    return n % 2 == 0


def _strip_unescaped(s: str) -> str:
    """strip() that leaves a backslash-escaped trailing space alone."""
    s = s.lstrip()
    while s and s[-1].isspace() and not (len(s) >= 2 and s[-2] == "\\"):
        s = s[:-1]
    return s


def _unquote(s: str) -> str:
    """Undo the engine's value rendering: quoted phrases (`"v"` — range
    bounds on keyword fields) lose the quotes + their two escapes;
    bare terms lose Lucene `\\x` character escapes (``_lucene_escape``
    output, e.g. ``web\\-1`` → ``web-1``)."""
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        return s[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return re.sub(r"\\(.)", r"\1", s)


def _match_query_string(doc: dict, q: str | None) -> bool:
    """Tiny Lucene-ish evaluator for tests: supports ``field:value``,
    ``field:[lo TO hi]`` ranges, ``field:(v1 OR v2)`` term OR-lists,
    ``_exists_:field``, ``AND`` conjunctions, and parenthesized
    groups that may themselves contain ``AND`` — the engine joins user
    + pushed clauses as ``"(c1) AND (c2)"`` (Lucene precedence safety,
    ``datasource.py``) and the timeslice reader nests another level, so
    splitting must be paren-depth-aware. The reference passes the query
    string verbatim to the server (``:222``) — a full Lucene parser is
    the server's job, not the client's; this subset only exists so
    pushdown plumbing is testable."""
    if not q:
        return True
    clauses = _split_top_and(q)
    if len(clauses) > 1:
        return all(
            _match_query_string(doc, _strip_unescaped(c)) for c in clauses
        )
    clause = _strip_unescaped(clauses[0])
    if _is_wrapped(clause):  # recurse: inner may hold more ANDs
        return _match_query_string(doc, _strip_unescaped(clause[1:-1]))
    if clause.startswith("NOT "):
        return not _match_query_string(doc, clause[4:].strip())
    fld, _, val = clause.partition(":")
    # rstrip must not eat a trailing ESCAPED space (`f:a\ ` is the
    # engine's rendering of the value "a "); field names unescape like
    # terms (`my\-field` → `my-field`)
    fld, val = _unquote(fld.strip()), _strip_unescaped(val)
    if fld == "_exists_":
        # field-presence query (pushed IsNotNull); the engine escapes
        # the field name, the raw doc key is unescaped
        return _get_path(doc, _unquote(val)) is not None
    got = _get_path(doc, fld)
    if isinstance(got, bool):
        # ES renders/accepts JSON booleans as lowercase 'true'/'false'
        # (the engine's _lucene_escape emits the same)
        got = "true" if got else "false"
    if val[:1] in "[{" and " TO " in val:
        # Lucene range: [ ] inclusive, { } exclusive, * unbounded
        lo_inc, hi_inc = val[0] == "[", val[-1] == "]"
        lo, hi = (_unquote(b.strip()) for b in val[1:-1].split(" TO "))
        if got is None:
            return False

        def _cmp(a, b):
            try:
                fa, fb = float(a), float(b)
                return (fa > fb) - (fa < fb)
            except (TypeError, ValueError):
                sa, sb = str(a), str(b)
                return (sa > sb) - (sa < sb)

        if lo != "*":
            c = _cmp(got, lo)
            if c < 0 or (c == 0 and not lo_inc):
                return False
        if hi != "*":
            c = _cmp(got, hi)
            if c > 0 or (c == 0 and not hi_inc):
                return False
        return True
    if val.startswith("(") and val.endswith(")"):
        # term OR-list (pushed In): field:(v1 OR v2 ...)
        if got is None:
            return False
        return any(
            str(got) == _unquote(alt.strip())
            for alt in val[1:-1].split(" OR ")
        )
    if val.startswith("*"):
        # leading wildcard (pushed StringEndsWith/Contains) — a literal
        # '*' is rendered escaped (`\*`), so a bare one is structural
        body = val[1:]
        if _ends_with_wildcard(body):
            return got is not None and _unquote(body[:-1]) in str(got)
        return got is not None and str(got).endswith(_unquote(body))
    if _ends_with_wildcard(val):
        # wildcard prefix term (pushed StringStartsWith)
        return got is not None and str(got).startswith(_unquote(val[:-1]))
    return got is not None and str(got) == _unquote(val)


def _project(doc: dict, includes: list[str] | None) -> dict:
    if not includes:
        return doc
    out = {}
    for k, v in doc.items():
        if any(fnmatch.fnmatch(k, pat) for pat in includes):
            out[k] = v
    return out


@dataclass
class MockES:
    """In-process ES/OS stand-in.

    ``fixture``: ``{index_name: {"mapping": <properties dict>,
    "docs": [<_source dict>, ...]}}``. Picklable → usable inside Spark
    tasks. ``fail_first``: raise TransportError for the first N calls
    (retry-path testing).
    """

    fixture: dict[str, dict]
    fail_first: int = 0
    _calls: itertools.count = field(default_factory=itertools.count, repr=False)
    _scrolls: dict = field(default_factory=dict, repr=False)
    _pits: dict = field(default_factory=dict, repr=False)

    def _maybe_fail(self):
        if next(self._calls) < self.fail_first:
            raise TransportError("simulated transport failure")

    # -- catalog ------------------------------------------------------
    def get_settings(self, index: str) -> dict:
        """Pattern → {index: settings} (reference get_indices,
        dump-es-parquet:341-350)."""
        self._maybe_fail()
        names = fnmatch.filter(sorted(self.fixture), index)
        return {n: {"settings": {}} for n in names}

    def get_mapping(self, index: str) -> dict:
        self._maybe_fail()
        props = self.fixture[index]["mapping"]
        return {index: {"mappings": {"properties": props}}}

    def create_index(self, index: str, properties: dict) -> dict:
        self._maybe_fail()
        self.fixture[index] = {"mapping": properties, "docs": []}
        return {"acknowledged": True, "index": index}

    def bulk(self, index: str, lines: list[str]) -> dict:
        """NDJSON ``_bulk`` stand-in: applies index actions into the
        fixture. NOTE: a MockES pickled into Spark tasks mutates the
        TASK's copy — use the HTTP harness (tests/test_restes_contract)
        to test distributed restore; MockES.bulk is for driver-side
        unit tests of the line protocol."""
        self._maybe_fail()
        docs = self.fixture.setdefault(index, {"mapping": {}, "docs": []})["docs"]
        items = []
        it = iter(lines)
        for action in it:
            a = json.loads(action)
            if "index" not in a and "create" not in a:
                raise TransportError(f"unsupported bulk action: {action[:80]}")
            docs.append(json.loads(next(it)))
            items.append({"index": {"status": 201}})
        return {"errors": False, "items": items}

    # -- scan ---------------------------------------------------------
    def _entries_for(self, docs, q, slice_spec) -> list[tuple[int, dict]]:
        """(stable ordinal, doc) pairs — ordinals are assigned over the
        unfiltered corpus so ``_id``/``_shard_doc`` stay stable across
        queries and slices, like a real server's doc ids."""
        entries = [
            (i, d) for i, d in enumerate(docs) if _match_query_string(d, q)
        ]
        if slice_spec:
            i, n = slice_spec["id"], slice_spec["max"]
            entries = entries[i::n]
        return entries

    @staticmethod
    def _sort_spec(sort: str | None) -> list[tuple[str, bool]]:
        if not sort:
            return []
        return [
            (p.partition(":")[0].strip(), p.partition(":")[2].strip() == "desc")
            for p in sort.split(",")
        ]

    @staticmethod
    def _sort_value(ordinal: int, doc: dict, fld: str):
        if fld == "_id":
            return str(ordinal)
        if fld == "_shard_doc":  # PIT tie-breaker: global doc ordinal
            return ordinal
        return _get_path(doc, fld)

    @staticmethod
    def _after_cursor(sort_vals: list, cursor: list, spec) -> bool:
        """Real search_after semantics: strictly after the cursor tuple
        in sort order, honoring per-field direction — ties on a page
        boundary are only safe when the sort ends in a unique key."""
        for v, c, (_, desc) in zip(sort_vals, cursor, spec):
            if v == c:
                continue
            lt = (v is None, v) < (c is None, c)
            return lt if desc else not lt
        return False

    def search(
        self,
        index: str,
        q: str | None = None,
        _source: list[str] | None = None,
        sort: str | None = None,
        size: int = 500,
        scroll: str | None = "1h",
        slice_spec: dict | None = None,
        search_after: list | None = None,
        pit_id: str | None = None,
        keep_alive: str = "1h",
    ) -> dict:
        self._maybe_fail()
        if pit_id is not None:
            if pit_id not in self._pits:
                raise TransportError(f"unknown or expired pit {pit_id!r}")
            docs = self._pits[pit_id]  # frozen point-in-time view
        else:
            docs = self.fixture[index]["docs"]
        entries = self._entries_for(docs, q, slice_spec)
        spec = self._sort_spec(sort)
        for fld, desc in reversed(spec):
            entries = sorted(
                entries,
                key=lambda e: (
                    self._sort_value(*e, fld) is None,
                    self._sort_value(*e, fld),
                ),
                reverse=desc,
            )
        hits = []
        for ordinal, d in entries:
            h = {
                "_id": str(ordinal),
                "_index": index,
                "_source": _project(d, _source),
            }
            if spec:
                h["sort"] = [self._sort_value(ordinal, d, f) for f, _ in spec]
            hits.append(h)
        if search_after is not None:
            if not spec:
                raise TransportError("search_after requires a sort")
            hits = [
                h for h in hits if self._after_cursor(h["sort"], search_after, spec)
            ]
        total = len(hits)
        page, rest = hits[:size], hits[size:]
        resp = {"hits": {"total": {"value": total}, "hits": page}}
        if scroll:
            sid = f"scroll-{index}-{id(rest)}-{len(rest)}"
            self._scrolls[sid] = (rest, size)
            resp["_scroll_id"] = sid
        if spec and page:
            resp["last_sort"] = page[-1]["sort"]
        return resp

    # -- point-in-time (snapshot isolation, like a scroll context) ----
    def open_pit(self, index: str, keep_alive: str = "1h") -> dict:
        self._maybe_fail()
        import copy

        pid = f"pit-{index}-{len(self._pits)}"
        self._pits[pid] = copy.deepcopy(self.fixture[index]["docs"])
        return {"id": pid}

    def close_pit(self, pit_id: str) -> dict:
        self._maybe_fail()
        return {"succeeded": self._pits.pop(pit_id, None) is not None}

    def scroll(self, scroll_id: str, scroll: str = "1h") -> dict:
        self._maybe_fail()
        rest, size = self._scrolls.get(scroll_id, ([], 500))
        page, rest = rest[:size], rest[size:]
        self._scrolls[scroll_id] = (rest, size)
        return {"_scroll_id": scroll_id, "hits": {"hits": page}}


# ---------------------------------------------------------------------------
# REST (stdlib-only; for real clusters)
# ---------------------------------------------------------------------------


@dataclass
class RestES:
    """Minimal JSON-over-HTTP(S) client (no external deps).

    TLS/client-cert options mirror the reference ctor
    (``dump-es-parquet:71-83``): ``cert``/``key`` for mutual TLS,
    ``capath`` for a CA bundle, ``verify_certs=False`` to disable
    verification. Only the endpoints the engine uses are implemented.
    """

    base_url: str
    timeout: int = 60
    cert: str | None = None
    key: str | None = None
    capath: str | None = None
    verify_certs: bool = True

    def _ssl_context(self):
        """The client's TLS context, built on first use and reused by
        every later request (building one re-reads the CA bundle);
        None for plain http."""
        import ssl

        if not self.base_url.startswith("https"):
            return None
        ctx = self.__dict__.get("_ctx")
        if ctx is None:
            ctx = ssl.create_default_context(cafile=self.capath)
            if self.cert:
                ctx.load_cert_chain(self.cert, self.key)
            if not self.verify_certs:
                ctx.check_hostname = False
                ctx.verify_mode = ssl.CERT_NONE
            self._ctx = ctx
        return ctx

    def __getstate__(self):
        # an SSLContext does not pickle; a client shipped to executors
        # builds its own there on first use
        state = dict(self.__dict__)
        state.pop("_ctx", None)
        return state

    def _req(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        return self._send_raw(method, path, data, "application/json")

    def bulk(self, index: str, lines: list[str]) -> dict:
        """``_bulk`` NDJSON ingest (the restore path). ``lines`` are
        pre-serialized action/source line pairs; response errors are
        the CALLER's to check (partial failure is per-item in ES)."""
        data = ("\n".join(lines) + "\n").encode()
        return self._send_raw(
            "POST", f"/{index}/_bulk", data, "application/x-ndjson"
        )

    def create_index(self, index: str, properties: dict) -> dict:
        """``PUT /{index}`` with an explicit mapping (restore-side
        inverse of ``get_mapping``)."""
        return self._req(
            "PUT", f"/{index}", {"mappings": {"properties": properties}}
        )

    def _send_raw(
        self, method: str, path: str, data: bytes | None, content_type: str
    ) -> dict:
        url = self.base_url.rstrip("/") + path
        req = urllib.request.Request(
            url, data=data, method=method, headers={"Content-Type": content_type}
        )
        try:
            with urllib.request.urlopen(
                req, timeout=self.timeout, context=self._ssl_context()
            ) as resp:
                return json.loads(resp.read())
        # HTTPError IS an OSError — it must be classified first, or a 400
        # bad query / 404 missing index would be retried (forever, under
        # the reference-default max_retries=None).
        except urllib.error.HTTPError as e:
            try:
                detail = e.read().decode("utf-8", "replace")[:500]
            except Exception:
                detail = ""
            msg = f"HTTP {e.code} on {method} {path}: {detail}"
            if e.code >= 500 or e.code == 429:  # server fault / throttling
                raise TransportError(msg) from e
            raise FatalHTTPError(e.code, msg) from e
        except OSError as e:  # connection-level failures → retryable
            raise TransportError(str(e)) from e

    def get_settings(self, index: str) -> dict:
        return self._req("GET", f"/{index}/_settings")

    def get_mapping(self, index: str) -> dict:
        return self._req("GET", f"/{index}/_mapping")

    def search(
        self,
        index: str,
        q: str | None = None,
        _source: list[str] | None = None,
        sort: str | None = None,
        size: int = 500,
        scroll: str | None = "1h",
        slice_spec: dict | None = None,
        search_after: list | None = None,
        pit_id: str | None = None,
        keep_alive: str = "1h",
    ) -> dict:
        params = [f"size={size}"]
        if scroll and pit_id is None:  # a PIT search must not open a scroll
            params.append(f"scroll={scroll}")
        if q:
            params.append("q=" + urllib.parse.quote(q))
        if sort:
            params.append("sort=" + urllib.parse.quote(sort))
        body: dict[str, Any] = {}
        if _source:
            body["_source"] = _source
        if slice_spec:
            body["slice"] = slice_spec
        if search_after is not None:
            # None means "from the start" and must be OMITTED — a real
            # server would interpret a literal [0] as "after sort
            # value 0" and silently skip documents
            body["search_after"] = search_after
        if pit_id is not None:
            # PIT searches address /_search without an index (the pit
            # id pins index + snapshot)
            body["pit"] = {"id": pit_id, "keep_alive": keep_alive}
            path = "/_search?"
        else:
            path = f"/{index}/_search?"
        resp = self._req("POST", path + "&".join(params), body or None)
        hits = resp.get("hits", {}).get("hits", [])
        if hits and "sort" in hits[-1]:
            resp["last_sort"] = hits[-1]["sort"]
        return resp

    def scroll(self, scroll_id: str, scroll: str = "1h") -> dict:
        return self._req(
            "POST", "/_search/scroll", {"scroll": scroll, "scroll_id": scroll_id}
        )

    def open_pit(self, index: str, keep_alive: str = "1h") -> dict:
        """POST /{index}/_pit — point-in-time context (ES ≥ 7.10 /
        OpenSearch ≥ 2.4), the snapshot the reference gets implicitly
        from its scroll context (dump-es-parquet:224,261)."""
        return self._req("POST", f"/{index}/_pit?keep_alive={keep_alive}")

    def close_pit(self, pit_id: str) -> dict:
        return self._req("DELETE", "/_pit", {"id": pit_id})


def with_sort_tiebreaker(sort: str | None, pit: bool) -> str:
    """Append a unique tie-breaker to a sort spec unless one is
    already present: without it, documents sharing the last sort value
    at a page boundary are silently SKIPPED by search_after. ``_id``
    works everywhere; under a PIT the server-recommended ``_shard_doc``
    is used instead."""
    tb = "_shard_doc:asc" if pit else "_id:asc"
    fields = [p.partition(":")[0].strip() for p in sort.split(",")] if sort else []
    if "_id" in fields or "_shard_doc" in fields:
        return sort  # caller already provides a unique key
    return f"{sort},{tb}" if sort else tb


def iter_hits_search_after(
    client,
    index: str,
    *,
    q: str | None,
    _source: list[str] | None,
    sort: str | None,
    size: int,
    slice_spec: dict | None = None,
    max_retries: int | None = 3,
    backoff_s: float = 1.0,
    pit: bool = False,
    keep_alive: str = "1h",
) -> Iterable[dict]:
    """``search_after`` pagination loop — the retry-idempotent cursor
    (SURVEY.md §7 hard part 2): unlike a scroll id, the sort-key cursor
    is *resumable*, so a retried page re-requests exactly where the
    last successful page ended instead of consuming a one-shot
    server-side cursor.

    The sort always ends in a unique tie-breaker (see
    ``with_sort_tiebreaker``) and the first page omits ``search_after``
    entirely. With ``pit=True`` a point-in-time context is opened per
    slice and threaded through every page, giving the same snapshot
    isolation as the reference's scroll context
    (dump-es-parquet:224,261) — without it, a dump concurrent with
    writes can see skew or duplicates."""
    sort_eff = with_sort_tiebreaker(sort, pit)
    pit_id = client.open_pit(index, keep_alive)["id"] if pit else None
    cursor: list | None = None  # None → first page, omit search_after
    try:
        while True:
            resp = with_retry(
                lambda: client.search(
                    index,
                    q=q,
                    _source=_source,
                    sort=sort_eff,
                    size=size,
                    scroll=None,  # no server-held scroll cursor
                    slice_spec=slice_spec,
                    search_after=cursor,
                    pit_id=pit_id,
                    keep_alive=keep_alive,
                ),
                max_retries=max_retries,
                backoff_s=backoff_s,
            )
            hits = resp["hits"]["hits"]
            if not hits:
                return
            yield from hits
            nxt = resp.get("last_sort")
            if nxt is None or nxt == cursor:
                return
            cursor = nxt
    finally:
        if pit_id is not None:
            try:
                client.close_pit(pit_id)
            except Exception:  # best-effort: PITs expire via keep_alive
                pass


def iter_hits(
    client,
    index: str,
    *,
    q: str | None,
    _source: list[str] | None,
    sort: str | None,
    size: int,
    scroll: str,
    slice_spec: dict | None = None,
    max_retries: int | None = 3,
    backoff_s: float = 1.0,
) -> Iterable[dict]:
    """Scroll loop for one slice: initial search + scroll-until-empty
    (reference ``:219-302``), yielding raw hit dicts."""
    resp = with_retry(
        lambda: client.search(
            index,
            q=q,
            _source=_source,
            sort=sort,
            size=size,
            scroll=scroll,
            slice_spec=slice_spec,
        ),
        max_retries=max_retries,
        backoff_s=backoff_s,
    )
    total = resp["hits"]["total"]
    total = total["value"] if isinstance(total, dict) else total  # ES7 vs 6 (:233-235)
    if not total:
        return
    while True:
        hits = resp["hits"]["hits"]
        if not hits:
            return
        yield from hits
        sid = resp.get("_scroll_id")
        if sid is None:
            return
        resp = with_retry(
            lambda: client.scroll(sid, scroll),
            max_retries=max_retries,
            backoff_s=backoff_s,
        )
