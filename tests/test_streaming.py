"""Structured Streaming: the windowed aggregation over the events
stream must equal the batch plan over the same files (exactly-once
file-source semantics)."""

from __future__ import annotations

from dump_es_parquet_spark.operators.tables import load
from dump_es_parquet_spark.oracle import canon_rows
from dump_es_parquet_spark.streaming.stream import (
    run_stream_to_memory,
    stream_events,
    windowed_counts,
)


def test_stream_equals_batch(spark, sf_dir):
    streamed = run_stream_to_memory(spark, sf_dir, table="t_stream_eq")
    batch = windowed_counts(load(spark, sf_dir, "events"))
    s = canon_rows(streamed.columns, [tuple(r) for r in streamed.collect()])
    b = canon_rows(batch.columns, [tuple(r) for r in batch.collect()])
    assert s == b
    assert len(s) > 0


def test_stream_is_streaming(spark, sf_dir):
    df = stream_events(spark, sf_dir)
    assert df.isStreaming
    assert windowed_counts(df).isStreaming


def test_esdump_streaming_source(spark):
    """readStream.format('esdump') micro-batches over search_after
    cursors and, once drained, equals the batch read."""
    import json

    from dump_es_parquet_spark.sources.datasource import register

    docs = [
        {"n": i, "@timestamp": 1748520000 + i, "kind": "a" if i % 2 else "b"}
        for i in range(1300)
    ]
    fixture = json.dumps(
        {
            "live": {
                "mapping": {
                    "n": {"type": "integer"},
                    "@timestamp": {"type": "date"},
                    "kind": {"type": "keyword"},
                },
                "docs": docs,
            }
        }
    )
    register(spark)
    stream = (
        spark.readStream.format("esdump")
        .option("fixture_json", fixture)
        .option("index", "live")
        .option("size", "200")
        .option("pages_per_batch", "2")
        .option("sort", "@timestamp:asc")
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("es_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("es_stream_t")
    assert out.count() == 1300
    assert out.select("n").distinct().count() == 1300  # exactly-once
    assert out.groupBy("kind").count().count() == 2


def test_esdump_timeslice_stream(spark):
    """stream_mode=timeslice: the partitioned (executor-side) stream
    reader drains the index exactly once across N slices."""
    import json

    from dump_es_parquet_spark.sources.datasource import register

    docs = [
        {"n": i, "@timestamp": 1748520000 + i // 3, "kind": "a" if i % 2 else "b"}
        for i in range(900)  # ts ties across slice boundaries on purpose
    ]
    fixture = json.dumps(
        {
            "live": {
                "mapping": {
                    "n": {"type": "integer"},
                    "@timestamp": {"type": "date"},
                    "kind": {"type": "keyword"},
                },
                "docs": docs,
            }
        }
    )
    register(spark)
    stream = (
        spark.readStream.format("esdump")
        .option("fixture_json", fixture)
        .option("index", "live")
        .option("stream_mode", "timeslice")
        .option("slices", "4")
        .option("size", "100")
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("es_ts_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("es_ts_stream_t")
    assert out.count() == 900
    assert out.select("n").distinct().count() == 900  # exactly-once
    assert out.groupBy("kind").count().count() == 2


def test_timeslice_reader_batches_partition_the_timeline():
    """Driver-level contract: consecutive (start, end] batches tile the
    timeline with no overlap and no gap, and slices within a batch are
    disjoint."""
    import json

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from dump_es_parquet_spark.streaming.es_stream import (
        EsDumpTimeSliceStreamReader,
    )

    docs = [{"n": i, "@timestamp": 100 + i // 4} for i in range(80)]
    opts = {
        "fixture_json": json.dumps(
            {
                "ix": {
                    "mapping": {
                        "n": {"type": "integer"},
                        "@timestamp": {"type": "long"},
                    },
                    "docs": docs,
                }
            }
        ),
        "index": "ix",
        "slices": "3",
        "size": "7",
    }
    schema = StructType(
        [StructField("n", IntegerType()), StructField("@timestamp", LongType())]
    )
    rdr = EsDumpTimeSliceStreamReader(schema, opts)
    start = rdr.initialOffset()
    assert start == {"ts": None}
    # batch 1: everything up to a mid-point watermark (simulate a
    # latestOffset probe taken mid-ingest)
    mid = {"ts": 110}
    seen: list = []
    parts = rdr.partitions(start, mid)
    assert len(parts) == 3
    per_slice = [sorted(r[0] for r in rdr.read(p)) for p in parts]
    for i, a in enumerate(per_slice):
        for b in per_slice[i + 1:]:
            assert not (set(a) & set(b))  # slices are disjoint
    seen += [n for s in per_slice for n in s]
    # batch 2: watermark advances to the true max — rest arrives once
    end = rdr.latestOffset()
    assert end == {"ts": 100 + 79 // 4}
    for p in rdr.partitions(mid, end):
        seen += [r[0] for r in rdr.read(p)]
    assert sorted(seen) == list(range(80))  # no gap, no overlap
    # empty batch: equal offsets read nothing
    assert list(rdr.read(rdr.partitions(end, end)[0])) == []


def _mock_index_opts(**extra):
    import json

    docs = [
        {"n": i, "@timestamp": 100 + i // 4, "host": f"h{i % 3}"}
        for i in range(60)
    ]
    mapping = {
        "n": {"type": "integer"},
        "@timestamp": {"type": "long"},
        "host": {"type": "keyword"},
    }
    opts = {
        "fixture_json": json.dumps({"ix": {"mapping": mapping, "docs": docs}}),
        "index": "ix",
        "slices": "3",
        "size": "7",
        **extra,
    }
    return opts, mapping


def test_stream_readers_honor_fields():
    """Both stream readers send the ``fields`` option as ``_source``
    includes, like the batch reader: the excluded column comes back
    NULL and every reader yields the same rows."""
    from dump_es_parquet_spark.schema import properties_to_struct
    from dump_es_parquet_spark.sources.datasource import EsDumpReader
    from dump_es_parquet_spark.streaming.es_stream import (
        EsDumpStreamReader,
        EsDumpTimeSliceStreamReader,
    )

    opts, mapping = _mock_index_opts(fields="host,@timestamp")
    schema = properties_to_struct(mapping)
    n_pos = schema.names.index("n")

    batch = EsDumpReader(schema, opts)
    batch_rows = [r for p in batch.partitions() for r in batch.read(p)]

    simple = EsDumpStreamReader(schema, opts)
    simple_rows: list = []
    offset = simple.initialOffset()
    while True:
        rows, offset = simple.read(offset)
        rows = list(rows)
        if not rows:
            break
        simple_rows += rows

    ts = EsDumpTimeSliceStreamReader(schema, opts)
    end = ts.latestOffset()
    ts_rows = [
        r for p in ts.partitions(ts.initialOffset(), end) for r in ts.read(p)
    ]

    assert len(batch_rows) == 60
    for rows in (batch_rows, simple_rows, ts_rows):
        assert all(r[n_pos] is None for r in rows)  # excluded by `fields`
        assert sorted(rows) == sorted(batch_rows)


def test_timeslice_reader_follows_cursor_and_pit():
    """The timeslice reader uses the batch cursor: by default
    search_after inside a PIT, never a scroll; and without a PIT it
    reads one unsliced partition per time chunk instead of N full
    scans."""
    import json

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from dump_es_parquet_spark.sources.client import MockES
    from dump_es_parquet_spark.streaming.es_stream import (
        EsDumpTimeSliceStreamReader,
    )

    opts, _ = _mock_index_opts()
    schema = StructType(
        [StructField("n", IntegerType()), StructField("@timestamp", LongType())]
    )
    calls: list = []

    class Recorder:
        def __init__(self, client):
            self._client = client

        def __getattr__(self, name):
            fn = getattr(self._client, name)

            def call(*args, **kwargs):
                calls.append((name, kwargs))
                return fn(*args, **kwargs)

            return call

    fixture = json.loads(opts["fixture_json"])
    rdr = EsDumpTimeSliceStreamReader(schema, opts)
    rdr._client = lambda: Recorder(MockES(fixture))
    end = rdr.latestOffset()
    calls.clear()
    seen = [r[0] for p in rdr.partitions({"ts": None}, end) for r in rdr.read(p)]
    assert sorted(seen) == list(range(60))
    names = [name for name, _ in calls]
    assert "scroll" not in names
    assert names.count("open_pit") == 3  # one per slice
    searches = [kw for name, kw in calls if name == "search"]
    assert searches and all(kw["pit_id"] and not kw["scroll"] for kw in searches)

    chunked, _ = _mock_index_opts(pit="false", slices="8", chunk_seconds="5")
    rdr = EsDumpTimeSliceStreamReader(schema, chunked)
    parts = rdr.partitions({"ts": 99}, {"ts": 114})
    assert len(parts) == 3  # one per 5-second chunk, unsliced
    seen = [r[0] for p in parts for r in rdr.read(p)]
    assert sorted(seen) == list(range(60))


def test_mockes_range_bounds():
    """Lucene range semantics in the mock: inclusive [..], exclusive
    {..}, and * unbounded — the evaluator the timeslice pushdown
    relies on."""
    from dump_es_parquet_spark.sources.client import _match_query_string

    doc = {"ts": 10}
    assert _match_query_string(doc, "ts:[10 TO 20]")
    assert not _match_query_string(doc, "ts:{10 TO 20]")
    assert _match_query_string(doc, "ts:[5 TO 10]")
    assert not _match_query_string(doc, "ts:[5 TO 10}")
    assert _match_query_string(doc, "ts:[* TO 10]")
    assert _match_query_string(doc, "ts:{5 TO *]")
    assert not _match_query_string({"ts": 5}, "ts:{5 TO 10]")
    # string (ISO timestamp) ordering falls back to lexicographic
    d = {"t": "2026-01-05T00:00:00"}
    assert _match_query_string(d, "t:{2026-01-04T00:00:00 TO 2026-01-05T00:00:00]")
    assert not _match_query_string(d, "t:{2026-01-05T00:00:00 TO *]")


def test_stateful_sessionize_stream(spark, sf_dir):
    """applyInPandasWithState sessionization over the events stream:
    closed sessions must agree with the batch gaps-and-islands plan
    for users whose sessions are all closed."""
    from pyspark.sql import functions as F

    from dump_es_parquet_spark.streaming.stateful import sessionize_stream

    q = (
        sessionize_stream(stream_events(spark, sf_dir), timeout="none")
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    closed = spark.table("sessions_t")
    # batch reference: full sessionization via window functions
    from dump_es_parquet_spark.operators.relational import q_events_sessionize

    batch = q_events_sessionize(spark, sf_dir)
    # all closed sessions must be valid prefixes of the batch session
    # sets: same (user, session) event counts
    b = {
        (r.user_id): r.n_sessions
        for r in batch.collect()
    }
    got = closed.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert closed.count() > 0
    for r in got:
        if r.user_id in b:
            # closed-session count never exceeds total sessions
            assert r.n <= b[r.user_id]
    # session integrity: start <= end, positive event counts
    bad = closed.filter(
        (F.col("session_start_s") > F.col("session_end_s"))
        | (F.col("n_events") <= 0)
    ).count()
    assert bad == 0


def test_timeslice_stream_composes_with_windowed_agg(spark):
    """End-to-end: partitioned esdump stream → watermarked tumbling
    windows → memory sink equals the batch windowed aggregate over the
    same documents (exactly-once + correct event-time grouping)."""
    import json

    from pyspark.sql import functions as F

    from dump_es_parquet_spark.sources.datasource import register
    from dump_es_parquet_spark.streaming.stream import windowed_counts

    base = 1748520000  # epoch seconds, UTC
    docs = [
        {
            "ts": base + i * 97,
            "event_type": "click" if i % 3 else "view",
            "value": float(i % 7) / 4.0,
        }
        for i in range(600)
    ]
    fixture = json.dumps(
        {
            "ev": {
                "mapping": {
                    "ts": {"type": "date"},
                    "event_type": {"type": "keyword"},
                    "value": {"type": "float"},
                },
                "docs": docs,
            }
        }
    )
    register(spark)
    stream = (
        spark.readStream.format("esdump")
        .option("fixture_json", fixture)
        .option("index", "ev")
        .option("stream_mode", "timeslice")
        .option("ts_field", "ts")
        .option("slices", "3")
        .option("size", "128")
        .load()
    )
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("ts_win_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("ts_win_t").collect()
    }
    batch = (
        spark.read.format("esdump")
        .option("fixture_json", fixture)
        .option("index", "ev")
        .load()
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_counts(batch).collect()
    }
    # append-mode only emits windows the watermark closed; every
    # emitted window must match the batch result exactly
    assert len(got) > 0
    for k, v in got.items():
        assert want[k] == v


def test_timeslice_stream_restarts_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: run one bounded micro-batch, stop,
    start a NEW query from the same checkpoint — the union of outputs
    has every document exactly once (offsets resume, nothing replays
    into the sink)."""
    import json

    from dump_es_parquet_spark.sources.datasource import register

    docs = [{"n": i, "@timestamp": 1000 + i} for i in range(400)]
    fixture = json.dumps(
        {
            "cp": {
                "mapping": {
                    "n": {"type": "integer"},
                    "@timestamp": {"type": "long"},
                },
                "docs": docs,
            }
        }
    )
    register(spark)

    def start(visible_query=None):
        b = (
            spark.readStream.format("esdump")
            .option("fixture_json", fixture)
            .option("index", "cp")
            .option("stream_mode", "timeslice")
            .option("ts_field", "@timestamp")
            .option("slices", "2")
            .option("size", "50")
            .option("start_ts", "999")
            .option("chunk_seconds", "100")
        )
        if visible_query:
            # emulate a growing index: run 1 only "has" the first 200
            # docs (the mock can't be mutated between runs)
            b = b.option("query", visible_query)
        return (
            b.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
        )

    q1 = start("@timestamp:[* TO 1199]").trigger(availableNow=True).start()
    q1.awaitTermination(120)
    q1.stop()
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n1 == 200  # run 1 saw only the ingested prefix
    # run 2: NEW query object, same checkpoint, index has "grown" —
    # drains only the remainder (the checkpointed watermark holds)
    q2 = start().start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 400
    assert out.select("n").distinct().count() == 400


def test_timeslice_chunked_partitions():
    """chunk_seconds tiles a batch range into bounded sub-ranges ×
    slices: disjoint, covering, per-task bounded."""
    import json

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from dump_es_parquet_spark.streaming.es_stream import (
        EsDumpTimeSliceStreamReader,
    )

    docs = [{"n": i, "@timestamp": 1000 + i} for i in range(400)]
    opts = {
        "fixture_json": json.dumps(
            {
                "ix": {
                    "mapping": {
                        "n": {"type": "integer"},
                        "@timestamp": {"type": "long"},
                    },
                    "docs": docs,
                }
            }
        ),
        "index": "ix",
        "slices": "2",
        "size": "64",
        "chunk_seconds": "100",
    }
    schema = StructType(
        [StructField("n", IntegerType()), StructField("@timestamp", LongType())]
    )
    rdr = EsDumpTimeSliceStreamReader(schema, opts)
    parts = rdr.partitions({"ts": 999}, {"ts": 1399})
    assert len(parts) == 4 * 2  # 4 time chunks × 2 slices
    seen: list = []
    for p in parts:
        rows = [r[0] for r in rdr.read(p)]
        assert len(rows) <= 100  # bounded per task (chunk ∩ slice)
        seen += rows
    assert sorted(seen) == list(range(400))  # disjoint + covering


def test_cli_follow_once(spark, tmp_path):
    """`--follow --follow-once` drains the index to parquet through the
    timeslice stream and is idempotent on re-run (checkpoint holds)."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [{"n": i, "ts": 2000 + i} for i in range(250)]
    fixture = {
        "flw": {
            "mapping": {"n": {"type": "integer"}, "ts": {"type": "long"}},
            "docs": docs,
        }
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    argv = [
        "flw",
        "--follow",
        "--follow-once",
        "--fixture-json",
        str(fp),
        "--out",
        str(tmp_path),
        "--ts-field",
        "ts",
        "--slices",
        "2",
        "--chunk-seconds",
        "100",
        "--quiet",
    ]
    assert main(argv) == 0
    out = spark.read.parquet(str(tmp_path / "flw"))
    assert out.count() == 250
    assert out.select("n").distinct().count() == 250
    # re-run: nothing new on the server — no duplicates appended
    assert main(argv) == 0
    assert spark.read.parquet(str(tmp_path / "flw")).count() == 250


def test_cli_follow_once_forwards_scan_flags(spark, tmp_path):
    """`--follow` passes the scan flags to the stream like the batch
    dump does: with `--fields`, the excluded column is NULL."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [{"n": i, "ts": 2000 + i, "kind": "k"} for i in range(250)]
    fixture = {
        "flf": {
            "mapping": {
                "n": {"type": "integer"},
                "ts": {"type": "long"},
                "kind": {"type": "keyword"},
            },
            "docs": docs,
        }
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    argv = [
        "flf",
        "--follow",
        "--follow-once",
        "--fixture-json",
        str(fp),
        "--out",
        str(tmp_path),
        "--ts-field",
        "ts",
        "--fields",
        "n,ts",
        "--sort",
        "ts:asc",
        "--slices",
        "2",
        "--quiet",
    ]
    assert main(argv) == 0
    out = spark.read.parquet(str(tmp_path / "flf"))
    assert out.count() == 250
    assert out.select("n").distinct().count() == 250
    assert out.filter("kind IS NOT NULL").count() == 0


def test_cli_follow_once_with_dedup_key(spark, tmp_path):
    """`--follow --follow-dedup-key` runs the watermarked streaming
    dedup in the dump pipeline (long ts field → derived event-time
    column) and the drained output is still exactly one row per key."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [{"n": i, "ts": 2000 + i} for i in range(120)]
    fixture = {
        "flwd": {
            "mapping": {"n": {"type": "integer"}, "ts": {"type": "long"}},
            "docs": docs,
        }
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    argv = [
        "flwd",
        "--follow",
        "--follow-once",
        "--fixture-json",
        str(fp),
        "--out",
        str(tmp_path),
        "--ts-field",
        "ts",
        "--slices",
        "2",
        "--follow-dedup-key",
        "n",
        "--quiet",
    ]
    assert main(argv) == 0
    out = spark.read.parquet(str(tmp_path / "flwd"))
    assert out.count() == 120
    assert out.select("n").distinct().count() == 120
    assert "_wm_ts" not in out.columns


def test_cli_follow_rejects_csv(tmp_path):
    from dump_es_parquet_spark.cli import main

    rc = main(
        ["x", "--follow", "--follow-once", "--output", "csv", "--out", str(tmp_path)]
    )
    assert rc == 2


def test_cli_follow_rejects_index_patterns(tmp_path, capsys):
    """ADVICE r3: a wildcard/pattern index would be embedded verbatim
    in the output dir and checkpoint path (literal '*' directory) —
    --follow needs one concrete index, so patterns exit rc=2."""
    from dump_es_parquet_spark.cli import main

    for idx in ("my-data-*", "a?b", "one,two"):
        rc = main(["--follow", "--follow-once", "--out", str(tmp_path), idx])
        assert rc == 2
        assert "concrete index" in capsys.readouterr().err

def test_mockes_parenthesized_and_groups():
    """ADVICE r3: '(a AND b) AND (c)' — exactly what EsDumpReader._query
    and the timeslice reader compose — used to fragment on the naive
    ' AND ' split and silently match nothing. Splitting is now
    paren-depth-aware and recursive; unbalanced input raises."""
    import pytest

    from dump_es_parquet_spark.sources.client import _match_query_string

    doc = {"a": 1, "b": 2, "c": 3, "ts": 15}
    assert _match_query_string(doc, "(a:1 AND b:2) AND (c:3)")
    assert not _match_query_string(doc, "(a:1 AND b:9) AND (c:3)")
    # the timeslice composition: "({user_q}) AND ({range})"
    assert _match_query_string(doc, "((a:1 AND b:2)) AND (ts:[10 TO 20])")
    assert not _match_query_string(doc, "((a:1 AND b:2)) AND (ts:[20 TO 30])")
    # nested unwrap of a single group
    assert _match_query_string(doc, "((a:1 AND (b:2)))")
    with pytest.raises(ValueError, match="unbalanced"):
        _match_query_string(doc, "(a:1 AND b:2")
    with pytest.raises(ValueError, match="unbalanced"):
        _match_query_string(doc, "a:1) AND (b:2")


def test_stream_dedup_within_watermark_equals_batch(spark, sf_dir, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) drained
    with availableNow keeps exactly one row per key when the duplicate
    arrives inside the watermark — matching batch dropDuplicates.
    Duplicates are injected as a second parquet file (a separate
    micro-batch under maxFilesPerTrigger=1), the retried-ES-page
    shape the --follow dump produces."""
    from dump_es_parquet_spark.operators.tables import load
    from dump_es_parquet_spark.streaming.stream import dedup_stream

    base = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tmp_path / "dup_events"
    base.write.parquet(str(src / "f1"))
    # re-deliver 50 rows verbatim (same event_id, same ts)
    base.orderBy("event_id").limit(50).write.parquet(str(src / "f2"))
    schema = spark.read.parquet(str(src / "f1")).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = dedup_stream(s, ["event_id"])
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = [r.event_id for r in spark.table("t_sdedup").collect()]
    n_batch = dedup_stream(
        spark.read.parquet(str(src / "*")), ["event_id"]
    ).count()
    assert len(streamed) == len(set(streamed)) == n_batch == base.count()


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """The stream-stream interval join (watermarked both sides) drained
    with availableNow produces exactly the batch join's rows — and the
    streaming plan really is a stream-stream join, not a fallback."""
    from dump_es_parquet_spark.operators.tables import load
    from dump_es_parquet_spark.streaming.stream import (
        purchase_after_click_join,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    joined = purchase_after_click_join(s, s)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.table("t_ssjoin").collect()
    }
    b = load(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in purchase_after_click_join(b, b).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_dedup_against_signature_store(spark, tmp_path):
    """foreachBatch composition: a file stream deduped against the
    persisted signature store — batch-2 survivors shadow batch-3
    replicas, and history (pre-stream) shadows batch-2 replicas."""
    from dump_es_parquet_spark.operators.dedup import write_signature_store
    from dump_es_parquet_spark.streaming.stream import (
        dedup_stream_against_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    novel = (
        "completely different content about distributed query engines "
        "processing petabytes of training data with columnar formats"
    )
    store = str(tmp_path / "store")
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    write_signature_store(seed, store)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(10, base + " tail"), (11, novel)], "doc_id long, text string"
    ).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "kept")
    q = dedup_stream_against_store(
        stream, store, out, checkpoint=str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    kept1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept1 == {11}  # 10 is a near-dup of seeded history

    # second stream run: a replica of 11 (now in the store) + fresh doc
    spark.createDataFrame(
        [(20, novel + " coda"), (21, "an entirely fresh small doc " * 3)],
        "doc_id long, text string",
    ).write.parquet(str(src / "b2"))
    q2 = dedup_stream_against_store(
        stream, store, out, checkpoint=str(tmp_path / "ck")
    )
    q2.awaitTermination(120)
    kept2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept2 == {11, 21}  # 20 shadowed by 11's streamed signature


def test_cli_follow_once_with_upsert_key(spark, tmp_path):
    """`--follow --follow-upsert-key` maintains the latest-state table:
    duplicate keys in the stream collapse to the max-version row, and a
    second drain with updated docs converges instead of appending."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [{"n": i % 50, "ts": 2000 + i} for i in range(100)]  # 2 gens/key
    fixture = {
        "flwu": {
            "mapping": {"n": {"type": "integer"}, "ts": {"type": "long"}},
            "docs": docs,
        }
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    argv = [
        "flwu",
        "--follow",
        "--follow-once",
        "--fixture-json",
        str(fp),
        "--out",
        str(tmp_path),
        "--ts-field",
        "ts",
        "--slices",
        "2",
        "--follow-upsert-key",
        "n",
        "--quiet",
    ]
    assert main(argv) == 0
    out = spark.read.parquet(str(tmp_path / "flwu"))
    assert out.count() == 50  # one row per key, not 100 appended
    latest = {r.n: r.ts for r in out.collect()}
    assert latest == {i: 2050 + i for i in range(50)}  # max ts per key

    # second drain with a late higher-version doc for key 0
    fixture["flwu"]["docs"] = docs + [{"n": 0, "ts": 9999}]
    fp.write_text(json.dumps(fixture))
    assert main(argv) == 0
    out2 = spark.read.parquet(str(tmp_path / "flwu"))
    assert out2.count() == 50
    assert {r.n: r.ts for r in out2.collect()}[0] == 9999


def test_cli_follow_upsert_requires_parquet(tmp_path):
    from dump_es_parquet_spark.cli import main

    rc = main(
        ["x", "--follow", "--follow-once", "--output", "ndjson",
         "--follow-upsert-key", "n", "--out", str(tmp_path)]
    )
    assert rc == 2
