"""The benchmark's own tests; no Spark session is started.

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
import standin  # noqa: E402
from benchtrace import Tracer  # noqa: E402
from esdata import INDEX_DOCS, MAPPING, make_indices  # noqa: E402

from dump_es_parquet_spark.sources.client import (  # noqa: E402
    MockES,
    RestES,
    iter_hits_search_after,
)


def _fixture_docs(n: int = 37) -> list[dict]:
    rng = random.Random(5)
    docs = []
    for i in range(n):
        d = {"host": f"web-{i % 4}", "load": i / 10}
        if i % 6:  # some documents lack the sort field: sorted last
            d["@timestamp"] = 1_700_000_000_000 + rng.randrange(5)  # ties
        docs.append(d)
    return docs


@pytest.fixture()
def served():
    docs = _fixture_docs()
    server = standin.serve({"metrics": docs}, {"host": {"type": "keyword"}})
    yield docs, server, f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()


def _hits(client, **kw):
    return [(h["_id"], h["_source"], h.get("sort"))
            for h in iter_hits_search_after(client, "metrics", q=None, _source=None, **kw)]


@pytest.mark.parametrize(
    "pit, slices, sort",
    [(True, 3, "@timestamp:asc"), (True, 1, "@timestamp:desc"),
     (False, 1, "@timestamp:asc"), (True, 2, None)],
)
def test_standin_serves_the_same_hits_as_mockes(served, pit, slices, sort):
    docs, server, url = served
    mock = MockES({"metrics": {"mapping": {}, "docs": docs}})
    for sid in range(slices):
        spec = {"id": sid, "max": slices} if slices > 1 else None
        kw = dict(sort=sort, size=5, slice_spec=spec, pit=pit)
        got = _hits(RestES(url), **kw)
        assert got == _hits(mock, **kw)
        assert len(got) == len(range(sid, len(docs), slices))
    stats = server.store.stats()
    assert stats["violations"] == []
    assert 0 < stats["connections"] <= stats["requests"]


def test_standin_counts_rejected_request_shapes(served):
    _, server, url = served
    client = RestES(url)
    pit = client.open_pit("metrics")["id"]
    with pytest.raises(Exception):  # first page carrying search_after
        client.search("metrics", sort="@timestamp:asc,_shard_doc:asc", size=5,
                      scroll=None, search_after=[0, 0], pit_id=pit)
    with pytest.raises(Exception):  # a sort without a tie-breaker
        client.search("metrics", sort="@timestamp:asc", size=5, scroll=None, pit_id=pit)
    violations = server.store.stats()["violations"]
    assert [v.split(": ", 1)[1] for v in violations] == [
        "first page carries search_after",
        "sort '@timestamp:asc' has no unique tie-breaker",
        "PIT left open",
    ]


def test_standin_prewarms_the_default_scan():
    indices = make_indices(3, (9_000, 300))  # > 500 hits a slice: several pages
    store = standin.Store({n: v["docs"] for n, v in indices.items()}, MAPPING)
    store.warm()
    warmed, pages = len(store._pages), 0
    for name in indices:
        for sid in range(standin.DEFAULT_SLICES):
            spec = {"id": sid, "max": standin.DEFAULT_SLICES}
            cursor = None
            while True:  # the client's loop: stops after the first empty page
                body, n = store.page(name, spec, standin.DEFAULT_SORT,
                                     standin.DEFAULT_SIZE, cursor, None)
                pages += 1
                if not n:
                    break
                cursor = json.loads(body)["hits"]["hits"][-1]["sort"]
    assert pages > len(indices) * standin.DEFAULT_SLICES * 2
    assert len(store._pages) == warmed  # no page was serialized late


def test_planted_counts_are_exact():
    indices = make_indices(9, (1800, 200))
    for v in indices.values():
        docs = v["docs"]
        assert sum(1 for d in docs if d.get("ts") == "not-a-date") == v["planted"]["ts_cast_failures"]
        assert sum(1 for d in docs if d.get("count_i") == "abc") == v["planted"]["count_i_cast_failures"]
        assert sum(1 for d in docs if isinstance(d["name"], list)) == v["planted"]["multivalue_collapsed"]
        assert sum(1 for d in docs if "extra_field" in d) == v["planted"]["unknown_field_values"]
    assert make_indices(9, (1800, 200)) == indices  # same seed, same inputs


@pytest.mark.parametrize("n", [1, 9, 19, 20, 39, 40, 41, 99, 100, 101, 999, 1000, 1001])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    rng = random.Random(n)
    values = rng.sample(range(10**6), n)
    q = run.tail_percentile(n)
    for level in (99, 90, 75, 50):
        above = sum(1 for v in values if v > run.quantile(values, level))
        assert above == run.beyond(n, level)
        if level == q:
            assert above >= 10
        elif q is None or level > q:
            assert above < 10


@pytest.mark.parametrize("passes", [run.MIN_PASSES, run.MIN_PASSES + 1, 5])
def test_dump_percentiles_do_not_mix_index_sizes(passes):
    """On dump_parquet an op is one index: p50 must be a small index's
    latency and p90 the large index's, never a blend of the two."""
    rng = random.Random(passes)
    timed = []
    for _ in range(passes):
        op_s = {f"logs-{n:03d}": (7 if n == 0 else 2) + rng.random()
                for n in range(len(INDEX_DOCS))}
        timed.append({"wall": sum(op_s.values()), "op_s": op_s})
    timing, _ = run.timed_metrics(timed)
    assert timing["op_p50_s"] in [s for p in timed for i, s in p["op_s"].items() if i != "logs-000"]
    assert timing["op_p90_s"] in [p["op_s"]["logs-000"] for p in timed]
    assert timing["pass_s"] == min(p["wall"] for p in timed)


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_names_match_benchmark_json():
    spec = _benchmark()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def _fake_dump_layers():
    tracer = Tracer()
    tracer.trace_id = "x1"
    with tracer.span("pipeline.dump"):
        for name in ("sources.scan.expand_pattern", "sources.scan.fetch_schema",
                     "coerce.parse_and_coerce", "sinks.write"):
            with tracer.span(name):
                pass
    stats = {"requests": 1, "search_requests": 1, "pit_requests": 0, "connections": 1,
             "bytes_in": 9, "hits": 1, "requested_hits": 5, "cpu_s": 0.1,
             "slice_s": {"logs-000": [0.1, 0.2]}, "violations": []}
    passes = [{"label": "x1", "wall": 1.0, "stats": stats, "files": 1, "bytes": 9, "warned": 0}]
    indices = make_indices(1, (20,))
    return run.dump_layers(tracer, passes, [], indices)


def _fake_query_layers(tmp_path):
    tracer = Tracer()
    tracer.trace_id = "x1:q"
    with tracer.span("query.construct", query="q"):
        with tracer.span("operators.es_search.q_x"):
            pass
    with tracer.span("query.execute", query="q") as span:
        pass
    span.update(plan_s=0.01, exchange=1, bhj=0, smj=0, bnlj=0, sorts=2, windows=1,
                python_evals=0)
    events = tmp_path / "events"
    events.mkdir()
    (events / "app").write_text(json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": 0, "Stage Infos": [],
        "Properties": {"spark.jobGroup.id": "x|x1|q"}}) + "\n")
    return run.query_layers(str(events), tracer, [{"label": "x1"}])


def test_per_layer_names_match_benchmark_json(tmp_path):
    names = {m["name"] for m in _benchmark()["per_layer"]}
    dump, query = set(_fake_dump_layers()), set(_fake_query_layers(tmp_path))
    common = {"trace.overhead", "ops.samples", "failed_share", "pipeline.docs_per_s",
              "pipeline.doc_work_s", "sinks.out_bytes_per_src_byte"}
    assert dump <= names and query <= names
    assert dump | query | common == names
