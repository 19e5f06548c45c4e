"""The repository benchmark: one client, closed loop, two workloads.

    python3 perfbench/run.py --workload dump_parquet --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run makes its inputs from the seed,
sets up a Spark session, runs one untimed cold pass, then a fixed number of
timed passes that fill about ``--seconds``, checks every output, and
prints one JSON object as the last line of standard output.
With ``--trace 0`` it holds the end-to-end metrics; with ``--trace 1``
the run alternates traced and untraced passes instead of the timed ones,
prints the per-layer metrics, and writes the spans and a summary under
``.perfbench_out/``. Everything the run
writes stays inside the checkout (``.perfbench_work/`` is removed at the
end). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import logging
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
#: Spark cores: one stays free for the ES stand-in
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
#: Driver heap limit. The heap grows on demand, so ``peak_rss_mb`` sees
#: the program's heap use up to this size.
HEAP = "2g"
#: a run that has not finished by then is stopped and exits non-zero
DEADLINE_S = 170
#: Timed passes per run: ``--seconds`` ÷ the workload's nominal pass
#: time, at least ``MIN_PASSES``. A fixed count, not a deadline, so two
#: versions of the program compare at the same point of JIT warm-up.
MIN_PASSES = 2
#: traced passes in a ``--trace 1`` run, each paired with an untraced one.
#: One pair keeps a traced dump run near 80 s; two took 104–110 s, too
#: close to ``DEADLINE_S`` on a host that runs half as fast at times.
TRACED_PASSES = 1
NOMINAL_PASS_S = {"dump_parquet": 10.0, "query_mix": 6.0}
DUMP_PATTERN = "logs-*"
#: query_mix tables: a copy of the repository's generated sf0.01 test
#: tables (TESTDATA.md, seed 42), kept in the benchmark so a run reads
#: only its checkout. sf0.1, the tables ``bench.py`` uses, makes one
#: pass of these queries longer than a run may take.
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")

#: query_mix: the ``es_*``/``esql_*`` family is 102 queries and the
#: ``corpus_``/``dedup_``/``sim_``/``mm_``/``text_``/``split_`` one 62,
#: each about 50 s a pass here, far more than a run may take. A run times
#: this fixed sample instead: one query of each operator module. The
#: ES-dialect ones spend a large share building the DataFrame (DSL
#: compilation, py4j round trips; ``es_nested_inside_nested`` is the
#: construction-bound query ROADMAP names); in the corpus ones execution
#: dominates (shuffles, Python workers, the kNN GEMM). No query that
#: builds an on-disk index artifact (``sim_ann_ivf_indexed`` and its
#: kin): the first build takes about 20 s, more than a run's budget.
QUERIES = (
    "es_nested_inside_nested",  # operators.es_search
    "esql_events_rollup",  # esql
    "es_query_string",  # querystring
    "dedup_minhash_lsh",  # dedup
    "sim_topk_batch",  # similarity
    "sim_knn_graph",  # knn
    "corpus_bm25",  # retrieval
    "text_repetition",  # text
    "mm_frame_sample",  # multimodal
    "dedup_spans",  # spans
)
OPERATOR_MODULES = (
    "es_search", "esql", "querystring", "dedup", "similarity", "knn",
    "retrieval", "text", "multimodal", "spans",
)
DUMP_MODULES = ("sources.scan", "schema", "coerce", "sinks", "pipeline")

#: name → unit of every end-to-end metric, in ``BENCHMARK.json`` order
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def median(values):
    return statistics.median(values) if values else 0.0


def rank(n: int, q: int) -> int:
    """1-based nearest rank of the ``q``-th percentile of ``n`` samples."""
    return max(1, math.ceil(q * n / 100))


def quantile(values: list[float], q: int) -> float:
    """``q``-th percentile by nearest rank: always one measured value,
    never an interpolation between two different operations."""
    return sorted(values)[rank(len(values), q) - 1] if values else 0.0


def beyond(n: int, q: int) -> int:
    """Samples strictly above the ``q``-th percentile of ``n`` distinct
    samples under ``quantile``."""
    return n - rank(n, q)


def tail_percentile(n: int) -> int | None:
    """The highest of p99, p90, p75 and p50 with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    return next((q for q in (99, 90, 75, 50) if beyond(n, q) >= 10), None)


# ---------------------------------------------------------------------------
# run context: work directory, session, load marks
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        # Python, PySpark's gateway files, Spark's scratch space and the
        # program's artifact caches all land here and go at run end, so
        # every run fills the caches again in its cold pass.
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = self.tmp
        sys.path[:0] = [ROOT, HERE]
        self.spark = None
        self.after_stop = None
        self.trace_spans: list[dict] = []
        self.procs: list[subprocess.Popen] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.loads: list[dict] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        log(f"FAILED {msg}")

    def setup(self, import_program) -> float:
        """Package import + ``session.get_spark`` + a first trivial job."""
        t0 = time.perf_counter()
        import_program()
        from dump_es_parquet_spark.session import get_spark

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "events"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def mark(self, label: str):
        """Load marks around a pass: loadavg and the sys/steal share of
        all CPU time (``bench.py``'s detectors). Never alters timings."""
        from bench import cpu_window, read_cpu_stat

        before, t0 = read_cpu_stat(), time.perf_counter()

        def done():
            w = cpu_window(before, read_cpu_stat()) or {}
            self.loads.append({"pass": label, "wall": round(time.perf_counter() - t0, 3),
                               "loadavg1": os.getloadavg()[0], **w})
            log(f"load {self.loads[-1]}")

        return done

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus its JVM's, read from ``/proc``."""
        kib = 0
        for pid in (os.getpid(), self.spark.sparkContext._gateway.proc.pid):
            with open(f"/proc/{pid}/status") as fh:
                kib += sum(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return kib / 1024

    def close(self) -> None:
        if self.spark is not None:
            proc = self.spark.sparkContext._gateway.proc
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down; the JVM goes below
                log(f"spark shutdown: {type(e).__name__}: {e}")
            proc.stdin.close()  # the gateway JVM exits on EOF
            self.procs.append(proc)
            # py4j logs every JVM object Python frees from here on as a
            # failed command; none of that is the run's concern
            logging.disable(logging.ERROR)
        for p in self.procs:
            if p.stdin is None:
                p.terminate()
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        try:
            if self.after_stop is not None:  # reads the closed event log
                self.after_stop()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
        try:  # the shared parent goes with the last run's directory
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    def timed_passes(self, one_pass) -> list:
        """Closed loop of back-to-back passes filling about ``--seconds``."""
        n = max(MIN_PASSES, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))
        return [one_pass(i + 1) for i in range(n)]


def traced_passes(tracer, one_pass) -> tuple[list, list]:
    """``TRACED_PASSES`` traced passes, each followed by an untraced one,
    so the tracing overhead compares passes at the same point of warm-up.
    A ``--trace 1`` run runs these in place of the timed passes; its
    untraced ones give the end-to-end numbers of its summary."""
    traced, plain = [], []
    for i in range(1, TRACED_PASSES + 1):
        tracer.activate()
        traced.append(one_pass(f"x{i}", True))
        tracer.activate(False)
        plain.append(one_pass(f"u{i}", False))
    return traced, plain


def overhead(traced: list, plain: list) -> float:
    """Traced ÷ untraced median pass time."""
    return median([p["wall"] for p in traced]) / median([p["wall"] for p in plain])


def timed_metrics(timed: list) -> tuple[dict, list]:
    """``pass_s``, the fastest timed pass, and the op percentiles over
    every operation of the timed passes; also returns those latencies.

    On a shared 4-core host, speed swings over tens of seconds with
    hypervisor steal (one process's query passes ranged 6.6–11.9 s), so
    the median pass of a run mostly reports how busy the host was; the
    fastest one is what the program costs when the host lets it run, as
    in ``bench.py``'s best-of-two steady times."""
    ops = [s for p in timed for s in p["op_s"].values()]
    return {"pass_s": min(p["wall"] for p in timed),
            "op_p50_s": quantile(ops, 50), "op_p90_s": quantile(ops, 90)}, ops


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


# ---------------------------------------------------------------------------
# dump_parquet
# ---------------------------------------------------------------------------


def start_standin(run: Run):
    """Start the stand-in; the returned callable waits for its URL."""
    from esdata import INDEX_DOCS

    ready = os.path.join(run.work, "standin.port")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "standin.py"), "--seed",
         str(run.args.seed), "--sizes", ",".join(map(str, INDEX_DOCS)), "--ready-file", ready],
        stdin=subprocess.DEVNULL)
    run.procs.append(proc)
    return lambda: wait_standin(proc, ready)


def wait_standin(proc, ready: str) -> str:
    deadline = time.time() + 120
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            raise RuntimeError("ES stand-in did not start")
        time.sleep(0.05)
    with open(ready) as fh:
        return f"http://127.0.0.1:{fh.read().strip()}"


def http_json(url: str, method: str = "GET") -> dict:
    import urllib.request

    req = urllib.request.Request(url, method=method, data=b"" if method == "POST" else None)
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


def output_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files Spark wrote under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def check_dump(run: Run, indices: dict, result, out: str, stats: dict, label: str,
               read_back: bool) -> None:
    """Check one pass: request shapes, errors, warning counts and (when
    ``read_back``) every row written. A bad index is a failed op."""
    import duckdb

    from dump_es_parquet_spark.oracle import canon_rows

    from esdata import CHECK_COLUMNS, CHECK_SELECT

    bad: dict[str, str] = {}
    for msg in stats["violations"]:
        bad.setdefault(msg.split(":", 1)[0], f"request shape: {msg}")
    for idx, err in result.errors.items():
        bad.setdefault(idx, f"raised: {err}")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for idx, want in indices.items():
        counts = result.warnings.get(idx, {})
        planted = {k: v for k, v in want["planted"].items() if v}
        warned = {k: v for k, v in counts.items() if k != "docs" and v}
        if warned != planted or counts.get("docs") != len(want["docs"]):
            bad.setdefault(idx, f"warnings {warned} != planted {planted}")
        if read_back and idx not in bad:
            got = con.execute(
                f"{CHECK_SELECT} FROM read_parquet('{os.path.join(out, idx)}/*.parquet')"
            ).fetchall()
            got = [tuple(v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
                         for v in row) for row in got]
            if canon_rows(CHECK_COLUMNS, got) != canon_rows(CHECK_COLUMNS, want["rows"]):
                bad[idx] = "rows differ from the generator's"
    con.close()
    for idx, why in sorted(bad.items()):
        run.fail(f"{label}: {idx}: {why}")


class IndexStarts(logging.Handler):
    """Times the start of each index from ``pipeline.dump``'s own
    "Processing index" log record: an index's dump latency runs to the
    next index's start, or to the end of the pass."""

    def __init__(self, starts: list[tuple[str, float]]):
        super().__init__()
        self.starts = starts

    def emit(self, record):
        if record.msg.startswith("Processing index"):
            self.starts.append((record.args[0], time.perf_counter()))


def workload_dump(run: Run) -> dict:
    from esdata import make_indices

    wait = start_standin(run)
    indices = make_indices(run.args.seed)
    n_docs = sum(len(v["docs"]) for v in indices.values())
    src_bytes = sum(len(json.dumps(d)) for v in indices.values() for d in v["docs"])
    setup_s = run.setup(lambda: __import__("dump_es_parquet_spark.pipeline"))
    url = wait()  # the stand-in serializes its pages while Spark starts
    from dump_es_parquet_spark import pipeline

    from benchtrace import ClientFactory, Tracer, instrument, read_client_spans

    spans_dir = os.path.join(run.work, "spans")
    os.makedirs(spans_dir)
    tracer = Tracer()
    starts: list[tuple[str, float]] = []
    logging.getLogger(pipeline.__name__).addHandler(IndexStarts(starts))

    def one_pass(label: str, traced: bool, read_back: bool) -> dict:
        out = os.path.join(run.work, "out", label)
        http_json(url + "/_perfbench/reset", "POST")
        factory = ClientFactory(url, spans_dir if traced else None, label)
        done = run.mark(label)
        tracer.trace_id = label
        starts.clear()
        t0 = time.perf_counter()
        if traced:
            with tracer.span("pass", trace=label):
                result = pipeline.dump(run.spark, factory, DUMP_PATTERN, out)
        else:
            result = pipeline.dump(run.spark, factory, DUMP_PATTERN, out)
        t1 = time.perf_counter()
        wall = t1 - t0
        done()
        ends = [t for _, t in starts[1:]] + [t1]
        index_s = {idx: end - t for (idx, t), end in zip(starts, ends)}
        log(f"pass {label}: " + " ".join(f"{i}={s:.3f}" for i, s in index_s.items()))
        stats = http_json(url + "/_perfbench/stats")
        files, size = output_bytes(out)
        run.attempted += len(indices)
        check_dump(run, indices, result, out, stats, label, read_back)
        shutil.rmtree(out, ignore_errors=True)
        return {"label": label, "wall": wall, "stats": stats, "files": files,
                "bytes": size, "warned": sum(v for c in result.warnings.values()
                                             for k, v in c.items() if k != "docs"),
                "op_s": index_s}

    cold = one_pass("cold", False, True)
    if run.trace:
        instrument([f"dump_es_parquet_spark.{m}" for m in DUMP_MODULES])
        traced, timed = traced_passes(tracer, lambda label, on: one_pass(label, on, label == "u1"))
    else:
        timed = run.timed_passes(lambda n: one_pass(f"t{n}", False, n == 1))
    # An op is one index. The small indices are two thirds of the
    # samples, so p50 is a small index's latency (mostly per-index fixed
    # cost) and p90 the large index's (mostly per-document work).
    timing, ops = timed_metrics(timed)
    e2e = {"setup_s": setup_s, "cold_pass_s": cold["wall"], **timing,
           "peak_rss_mb": run.peak_rss_mb()}
    # Per-document seconds of a pass: its time beyond what every index
    # would cost at the median small index's latency.
    large = max(indices, key=lambda i: len(indices[i]["docs"]))
    fixed = median([s for p in timed for i, s in p["op_s"].items() if i != large])
    doc_work = e2e["pass_s"] - len(indices) * fixed
    log(f"per-document share of pass_s: {doc_work / e2e['pass_s']:.3f}")
    layer = {
        "ops.samples": len(ops),
        "pipeline.docs_per_s": n_docs / e2e["pass_s"],
        "pipeline.doc_work_s": doc_work,
        "sinks.out_bytes_per_src_byte": median([p["bytes"] for p in timed]) / src_bytes,
    }
    if run.trace:
        client = read_client_spans(spans_dir)
        layer.update(dump_layers(tracer, traced, client, indices))
        layer["trace.overhead"] = overhead(traced, timed)
        run.trace_spans = tracer.spans + client
    return {"e2e": e2e, "layer": layer}


def dump_layers(tracer, passes, client_spans, indices) -> dict:
    """Per-layer metrics of the traced passes (medians over passes)."""
    per_pass = []
    for p in passes:
        spans = [s for s in tracer.spans if s["trace"] == p["label"]]
        st = p["stats"]

        def dur(*names):
            return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

        calls = [s for s in client_spans if s["trace"] == p["label"]]
        slice_max, skews = 0.0, []
        for times in st["slice_s"].values():
            slice_max = max(slice_max, max(times))
            skews.append(max(times) / median(times))
        write_s = dur("sinks.write")
        m = {
            "sources.client.requests": st["requests"],
            "sources.client.search_requests": st["search_requests"],
            "sources.client.pit_requests": st["pit_requests"],
            "sources.client.connections": st["connections"],
            "sources.client.bytes_in": st["bytes_in"],
            "sources.client.retries": sum(1 for s in calls if s["retry"]),
            "sources.client.request_s": sum(s["end"] - s["start"] for s in calls),
            "sources.client.page_fill": st["hits"] / max(1, st["requested_hits"]),
            "sources.scan.slice_s_max": slice_max,
            "sources.scan.slice_skew": max(skews),
            "schema.fetch_s": dur("sources.scan.expand_pattern", "sources.scan.fetch_schema"),
            "coerce.build_s": dur("coerce.parse_and_coerce"),
            "coerce.warned_docs": p["warned"],
            "coerce.planted_docs": sum(sum(v["planted"].values()) for v in indices.values()),
            "sinks.write_s": write_s,
            "sinks.files": p["files"],
            "sinks.bytes_out": p["bytes"],
            "pipeline.index_fixed_s": (p["wall"] - write_s) / len(indices),
            "standin.busy_share": st["cpu_s"] / p["wall"],
        }
        per_pass.append(m)
    return {k: median([m[k] for m in per_pass]) for k in per_pass[0]}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class Collected:
    """Already-collected rows in the shape ``oracle.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def workload_queries(run: Run) -> dict:
    import duckdb

    data = QUERY_DATA
    setup_s = run.setup(lambda: __import__("__spark_entry__"))
    import __spark_entry__ as entry
    from dump_es_parquet_spark.oracle import canon_rows, compare, register_views

    from benchtrace import Tracer, count_py4j, instrument

    tracer = Tracer()
    oracle = {**entry.oracle_sql(), **entry.demoted_oracle_sql()}
    rng = random.Random(run.args.seed)
    sc = run.spark.sparkContext
    con = duckdb.connect()
    register_views(con, data)
    expected: dict[str, list[str]] = {}

    def one_query(fn, name: str, label: str, traced: bool) -> float | None:
        run.attempted += 1
        rec = {"trace": f"{label}:{name}", "query": name}
        try:
            if traced:
                sc.setJobGroup(f"c|{label}|{name}", name)
                tracer.trace_id = rec["trace"]
                t0 = time.perf_counter()
                with tracer.span("query.construct", **rec):
                    df = fn(run.spark, data)
                sc.setJobGroup(f"x|{label}|{name}", name)
                with tracer.span("query.execute", **rec) as span:
                    rows = df.collect()
                took = time.perf_counter() - t0
                sc.setJobGroup(None, None)
                plan_stats(tracer, df, span)
            else:
                t0 = time.perf_counter()
                df = fn(run.spark, data)
                rows = df.collect()
                took = time.perf_counter() - t0
            cols = df.columns
        except Exception as e:  # one failed query must not end the run
            run.fail(f"{label}: {name} raised {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            run.spark.catalog.clearCache()
            gc.collect()
        canon = canon_rows(cols, [tuple(r) for r in rows])
        if name not in expected:  # the cold pass checks against the oracle
            problems = compare(Collected(cols, [tuple(r) for r in rows]), con, oracle[name])
            if problems:
                run.fail(f"{label}: {name} oracle mismatch: {problems}")
                expected[name] = None
                return took
            expected[name] = canon
        elif expected[name] is not None and canon != expected[name]:
            run.fail(f"{label}: {name} rows differ from the checked cold pass")
        return took

    def one_pass(label: str, traced: bool = False) -> dict:
        order = list(QUERIES)
        rng.shuffle(order)
        # looked up per pass: the traced passes must see wrapped functions
        fns = {**entry.queries(), **entry.demoted_queries()}
        done = run.mark(label)
        times = [one_query(fns[n], n, label, traced) for n in order]
        done()
        op_s = {n: t for n, t in zip(order, times) if t is not None}
        log(f"pass {label}: " + " ".join(f"{n}={t:.3f}" for n, t in op_s.items()))
        return {"label": label, "wall": sum(op_s.values()), "op_s": op_s}

    cold = one_pass("cold")
    if run.trace:
        instrument([f"dump_es_parquet_spark.operators.{m}" for m in OPERATOR_MODULES])
        count_py4j(run.spark, tracer)
        traced, timed = traced_passes(tracer, one_pass)
    else:
        timed = run.timed_passes(lambda n: one_pass(f"t{n}"))
    timing, ops = timed_metrics(timed)
    e2e = {"setup_s": setup_s, "cold_pass_s": cold["wall"], **timing,
           "peak_rss_mb": run.peak_rss_mb()}
    layer = {"ops.samples": len(ops)}
    if run.trace:
        layer["trace.overhead"] = overhead(traced, timed)
        run.trace_spans = tracer.spans
        events = os.path.join(run.work, "events")
        run.after_stop = lambda: layer.update(query_layers(events, tracer, traced))
    con.close()
    return {"e2e": e2e, "layer": layer}


PY_EVAL_NODES = ("BatchEvalPythonExec", "ArrowEvalPythonExec", "MapInPandasExec",
                 "PythonMapInArrowExec", "MapInArrowExec", "FlatMapGroupsInPandasExec",
                 "FlatMapCoGroupsInPandasExec", "AggregateInPandasExec",
                 "WindowInPandasExec", "ArrowWindowPythonExec", "FlatMapGroupsInArrowExec")


def _walk_counts(node, counts) -> None:
    """Sort, Window and Python-eval nodes of an executed plan, walked
    like ``plan_lint._walk_plan`` (AQE initial plan, subqueries)."""
    cls = node.getClass().getSimpleName()
    if cls == "SortExec":
        counts["sorts"] += 1
    elif cls == "WindowExec":
        counts["windows"] += 1
    elif cls in PY_EVAL_NODES:
        counts["python_evals"] += 1
    if cls == "AdaptiveSparkPlanExec":
        _walk_counts(node.initialPlan(), counts)
        return
    ch = node.children()
    for i in range(ch.size()):
        _walk_counts(ch.apply(i), counts)
    sq = node.subqueries()
    for i in range(sq.size()):
        _walk_counts(sq.apply(i), counts)


def plan_stats(tracer, df, span: dict) -> None:
    """Catalyst phase time and executed-plan counts of a collected
    query, added to its execute span after the span has closed."""
    from dump_es_parquet_spark.plan_lint import plan_fingerprint

    py4j0 = tracer.py4j_calls
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    it = phases.iterator()
    plan_ms = 0
    while it.hasNext():
        plan_ms += it.next()._2().durationMs()
    counts = {"sorts": 0, "windows": 0, "python_evals": 0}
    _walk_counts(qe.executedPlan(), counts)
    fp = plan_fingerprint(df)
    counts.update({k: fp.get(k, 0) for k in ("exchange", "bhj", "smj", "bnlj")})
    tracer.py4j_calls = py4j0  # the benchmark's own calls are not the query's
    span.update(counts, plan_s=plan_ms / 1000)


def read_event_log(events_dir: str) -> dict[str, dict]:
    """Job group → jobs, stages and shuffle bytes written."""
    stage_group, groups = {}, {}
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(events_dir)
                   for n in names if not n.startswith(("appstatus", ".")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    agg = groups.setdefault(g, {"jobs": 0, "stages": 0, "shuffle_bytes": 0})
                    agg["jobs"] += 1
                    for s in ev.get("Stage Infos", []):
                        stage_group[s["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None and "Failure Reason" not in ev["Stage Info"]:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    w = ((ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {})
                    if g is not None:
                        groups[g]["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
    return groups


def query_layers(events_dir: str, tracer, passes) -> dict:
    """Per-layer metrics of the traced passes (medians over passes)."""
    from benchtrace import self_times

    groups = read_event_log(events_dir)
    selfs = self_times(tracer.spans)
    per_pass = []
    for p in passes:
        label = p["label"]
        spans = [s for s in tracer.spans if s["trace"] and s["trace"].startswith(label + ":")]
        m = {f"operators.{mod}.{k}": 0.0 for mod in OPERATOR_MODULES
             for k in ("construct_s", "py4j_calls", "construct_jobs")}
        # self py4j calls: a span's count minus its direct children's
        child_py4j: dict[int, int] = {}
        for s in spans:
            if s["parent"] is not None:
                child_py4j[s["parent"]] = child_py4j.get(s["parent"], 0) + s["py4j"]
        jobs_c = {n: g for n, g in groups.items() if n.startswith(f"c|{label}|")}
        for s in spans:
            mod = s["name"].split(".")[1] if s["name"].startswith("operators.") else None
            if mod in OPERATOR_MODULES:
                m[f"operators.{mod}.construct_s"] += selfs[s["id"]]
                m[f"operators.{mod}.py4j_calls"] += s["py4j"] - child_py4j.get(s["id"], 0)
        # a query's construction jobs go to the module of its outermost
        # operator span
        for s in spans:
            if s["name"] != "query.construct":
                continue
            top = next((c for c in spans if c["parent"] == s["id"]
                        and c["name"].startswith("operators.")), None)
            n_jobs = jobs_c.get(f"c|{label}|{s['query']}", {}).get("jobs", 0)
            if top is not None:
                m[f"operators.{top['name'].split('.')[1]}.construct_jobs"] += n_jobs
        cons = [s for s in spans if s["name"] == "query.construct"]
        execs = [s for s in spans if s["name"] == "query.execute"]

        xg = [g for n, g in groups.items() if n.startswith(f"x|{label}|")]
        m.update({
            "query.construct_s": sum(s["end"] - s["start"] for s in cons),
            "query.py4j_calls": sum(s["py4j"] for s in cons),
            "query.construct_jobs": sum(g["jobs"] for g in jobs_c.values()),
            "query.plan_s": sum(s.get("plan_s", 0) for s in execs),
            "query.execute_s": sum(s["end"] - s["start"] for s in execs),
            "query.jobs": sum(g["jobs"] for g in xg),
            "query.stages": sum(g["stages"] for g in xg),
            "query.shuffle_bytes": sum(g["shuffle_bytes"] for g in xg),
        })
        for k in ("exchange", "bhj", "smj", "bnlj", "sorts", "windows", "python_evals"):
            m[f"plan.{k}"] = sum(s.get(k, 0) for s in execs)  # 0: collect raised
        per_pass.append(m)
    return {k: median([m[k] for m in per_pass]) for k in per_pass[0]}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

WORKLOADS = {"dump_parquet": workload_dump, "query_mix": workload_queries}


def per_layer_units() -> dict[str, str]:
    """name → unit of every per-layer metric, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def on_signal(signum, frame):
    """Deadline or termination: unwind, so ``Run.close`` stops the JVM
    and the stand-in. ``SystemExit`` passes the program's per-index
    ``except Exception`` isolation, and the run prints no result."""
    raise SystemExit(f"stopped by signal {signum} (deadline {DEADLINE_S} s)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("dump_es_parquet_spark/__init__.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"no {need} here: run from the root of a checkout of the program")
            return 2
    run = Run(args)
    for sig in (signal.SIGALRM, signal.SIGTERM):
        signal.signal(sig, on_signal)
    signal.alarm(DEADLINE_S)
    try:
        got = WORKLOADS[args.workload](run)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        run.close()
    layer = got["layer"]
    layer["failed_share"] = run.failed / max(1, run.attempted)
    tail = tail_percentile(layer["ops.samples"])
    log(f"{layer['ops.samples']} op samples; the highest percentile with ten "
        f"beyond it is {f'p{tail}' if tail else 'none'}")
    for p in run.problems:
        log(f"problem: {p}")
    if args.trace:
        units = per_layer_units()
        missing = sorted(set(units) - set(layer))
        for k in missing:  # a layer this workload does not go through
            layer[k] = 0
        metrics = metric_block(layer, units)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
        with open(stem + ".spans.jsonl", "w") as fh:
            for rec in run.trace_spans:
                fh.write(json.dumps(rec) + "\n")
        with open(stem + ".summary.json", "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "per_layer": layer, "end_to_end": got["e2e"],
                       "loads": run.loads, "problems": run.problems}, fh, indent=1)
    else:
        metrics = metric_block(got["e2e"], END_TO_END)
    for k, v in {**got["e2e"], **layer}.items():
        log(f"{k} = {v}")
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
