"""Instrumentation for the traced run, applied from the benchmark's side.

Nothing here edits the program. ``instrument`` wraps the public
functions of the named program modules, and ``count_py4j`` wraps the
py4j gateway client's ``send_command``, in this process only.
``ClientFactory`` is the ``client_factory`` the dump workload hands to
``pipeline.dump``; with a spans directory it returns a client that
appends one span per call to a per-process file, which is how spans from
Spark's Python workers reach the driver.

Spans are kept in memory (name, start, end, parent, shared trace id);
``run.py`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: The tracer wrapped functions report to. Module-level on purpose: a
#: wrapper shipped to a Spark worker inside a UDF pickles only a
#: reference to ``_call``, and there ``_ACTIVE`` is None, so the wrapper
#: only calls through.
_ACTIVE: "Tracer | None" = None


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "trace": self.trace_id, "start": time.time(), **attrs}
        py4j0 = self.py4j_calls
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - py4j0
            self._stack.pop()

    def activate(self, on: bool = True) -> None:
        global _ACTIVE
        _ACTIVE = self if on else None

    @property
    def active(self) -> bool:
        return _ACTIVE is self


def _call(name, fn, args, kwargs):
    tracer = _ACTIVE
    if tracer is None or threading.get_ident() != tracer._main:
        return fn(*args, **kwargs)
    with tracer.span(name):
        return fn(*args, **kwargs)


def _wrap(name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _call(name, fn, args, kwargs)

    return wrapper


PACKAGE = "dump_es_parquet_spark"


def instrument(modules: list[str]) -> int:
    """Wrap every public function defined in ``modules`` (imported here
    if need be) in a span named ``<module>.<function>``, with the package
    prefix dropped. Every reference to the function held by a loaded
    module of the program is replaced too, so callers that imported it
    by name also go through the span. Returns the number wrapped."""
    wrapped: dict[int, object] = {}
    for modname in modules:
        mod = importlib.import_module(modname)
        short = modname.removeprefix(PACKAGE + ".")
        for attr, fn in list(vars(mod).items()):
            if (inspect.isfunction(fn) and fn.__module__ == modname
                    and not attr.startswith("_") and id(fn) not in wrapped):
                wrapped[id(fn)] = _wrap(f"{short}.{attr}", fn)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == "__spark_entry__" or modname.startswith(PACKAGE)):
            continue
        for attr, value in list(vars(mod).items()):
            new = wrapped.get(id(value))
            if new is not None:
                setattr(mod, attr, new)
    return len(wrapped)


def count_py4j(spark, tracer: Tracer) -> None:
    """Count the commands the driver sends through the gateway client
    from the main thread (every JVM method call is one)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def send_command(*args, **kwargs):
        if tracer.active and threading.get_ident() == tracer._main:
            tracer.py4j_calls += 1
        return send(*args, **kwargs)

    client.send_command = send_command


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the time its direct children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.get("parent") is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


class ClientFactory:
    """``client_factory`` for ``pipeline.dump``: a ``RestES`` on
    ``url``, wrapped in a span-recording client when ``spans_dir`` is
    set. Picklable, so Spark ships it to its Python workers."""

    def __init__(self, url: str, spans_dir: str | None = None, trace_id: str = ""):
        self.url = url
        self.spans_dir = spans_dir
        self.trace_id = trace_id

    def __call__(self):
        from dump_es_parquet_spark.sources.client import RestES

        client = RestES(self.url)
        if self.spans_dir is None:
            return client
        return TracedClient(client, self.spans_dir, self.trace_id)


class TracedClient:
    """Delegates to a client; appends a span per call, marking calls
    that raised ``TransportError`` (each one is retried by the program's
    ``with_retry``)."""

    def __init__(self, client, spans_dir: str, trace_id: str):
        self._client = client
        self._trace_id = trace_id
        self._out = open(
            os.path.join(spans_dir, f"client-{os.getpid()}.jsonl"), "a", buffering=1
        )

    def __getattr__(self, name):
        method = getattr(self._client, name)
        if not callable(method):
            return method

        def call(*args, **kwargs):
            from dump_es_parquet_spark.sources.client import TransportError

            rec = {"name": f"sources.client.{name}", "trace": self._trace_id,
                   "pid": os.getpid(), "start": time.time(), "retry": False}
            try:
                return method(*args, **kwargs)
            except TransportError:
                rec["retry"] = True
                raise
            finally:
                rec["end"] = time.time()
                self._out.write(json.dumps(rec) + "\n")

        return call


def read_client_spans(spans_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(spans_dir)):
        if name.startswith("client-"):
            with open(os.path.join(spans_dir, name)) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
    return out
