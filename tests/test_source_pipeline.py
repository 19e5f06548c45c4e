"""End-to-end dump tests against the mock ES (SURVEY.md §5 item 2):
sliced parallel scan, pushdown knobs, sinks, per-index isolation,
warning report."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest

from dump_es_parquet_spark.pipeline import dump
from dump_es_parquet_spark.sinks import SinkOptions
from dump_es_parquet_spark.sources import MockES, ScanOptions, read_index
from dump_es_parquet_spark.sources.client import TransportError, iter_hits, with_retry
from dump_es_parquet_spark.sources.scan import read_index_raw, read_pattern

MAPPING = {
    "host": {"type": "keyword"},
    "status": {"type": "keyword"},
    "port": {"type": "integer"},
    "@timestamp": {"type": "date"},
    "load": {"type": "double"},
}


def make_fixture(n=1500):
    # ≥3 scroll pages at size=500 (FIXTURES.md A2 sizing guidance)
    docs = [
        {
            "host": f"web-{i % 7}",
            "status": "active" if i % 3 else "idle",
            "port": 9200 + (i % 5),
            "@timestamp": f"2026-05-{1 + i % 28:02d}T12:00:00",
            "load": i / 100.0,
        }
        for i in range(n)
    ]
    return {
        "metrics-2026.05": {"mapping": MAPPING, "docs": docs},
        "metrics-2026.06": {"mapping": MAPPING, "docs": docs[:100]},
        "unrelated-index": {"mapping": MAPPING, "docs": docs[:10]},
    }


FIXTURE = make_fixture()


def factory():
    return MockES(FIXTURE)


def test_sliced_scan_reads_everything(spark):
    opts = ScanOptions(slices=4, sort=None)
    df = read_index_raw(spark, factory, "metrics-2026.05", opts)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1500


def test_typed_scan(spark):
    df = read_index(spark, factory, "metrics-2026.05", ScanOptions(slices=3))
    assert df.count() == 1500
    row = df.filter("host = 'web-0' and port = 9200").first()
    assert isinstance(row["@timestamp"], dt.datetime)
    assert df.schema["port"].dataType.simpleString() == "int"


def test_query_pushdown(spark):
    opts = ScanOptions(query="status:idle", slices=2)
    df = read_index(spark, factory, "metrics-2026.05", opts)
    assert df.count() == 500  # every i % 3 == 0
    assert df.select("status").distinct().collect()[0][0] == "idle"


def test_fields_pushdown(spark):
    opts = ScanOptions(fields="host,@timestamp", slices=2)
    df = read_index(spark, factory, "metrics-2026.05", opts)
    assert df.filter("port is not null").count() == 0
    assert df.filter("host is not null").count() == 1500


def test_global_order(spark):
    opts = ScanOptions(slices=4, order="global", sort="@timestamp:desc")
    df = read_index(spark, factory, "metrics-2026.05", opts)
    ts = [r[0] for r in df.select("@timestamp").collect()]
    assert ts == sorted(ts, reverse=True)


def test_empty_result_early_exit(spark):
    # 0-hit query → empty frame, no scroll loop (reference :236-238)
    opts = ScanOptions(query="status:nonexistent", slices=2)
    df = read_index_raw(spark, factory, "metrics-2026.05", opts)
    assert df.count() == 0


def test_retry_bounded():
    flaky = MockES(FIXTURE, fail_first=2)
    out = with_retry(
        lambda: flaky.get_settings("metrics-*"), max_retries=5, backoff_s=0,
        sleep=lambda s: None,
    )
    assert len(out) == 2


def test_retry_exhausted():
    flaky = MockES(FIXTURE, fail_first=10)
    with pytest.raises(TransportError):
        with_retry(
            lambda: flaky.get_settings("metrics-*"),
            max_retries=2,
            backoff_s=0,
            sleep=lambda s: None,
        )


def test_iter_hits_scroll_pagination():
    hits = list(
        iter_hits(
            factory(),
            "metrics-2026.05",
            q=None,
            _source=None,
            sort=None,
            size=500,
            scroll="1h",
        )
    )
    assert len(hits) == 1500


def test_read_pattern_fanout(spark):
    dfs = read_pattern(spark, factory, "metrics-*", ScanOptions(slices=2))
    assert set(dfs) == {"metrics-2026.05", "metrics-2026.06"}
    assert dfs["metrics-2026.06"].count() == 100


# ---------------------------------------------------------------------------
# pipeline e2e
# ---------------------------------------------------------------------------


def test_dump_parquet_e2e(spark, tmp_path):
    res = dump(
        spark,
        factory,
        "metrics-*",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="parquet"),
    )
    assert not res.errors
    back = spark.read.parquet(str(tmp_path / "metrics-2026.05"))
    assert back.count() == 1500
    assert back.schema["@timestamp"].dataType.simpleString() == "timestamp"
    # duckdb downstream contract (reference README.md:99-103)
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/metrics-2026.05/*.parquet')"
    ).fetchone()[0]
    assert n == 1500


def test_dump_orc_e2e(spark, tmp_path):
    """ORC sink (engine extension): same typed frame, Spark's other
    built-in columnar format, zstd by default."""
    res = dump(
        spark,
        factory,
        "metrics-2026.05",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="orc"),
    )
    assert not res.errors
    back = spark.read.orc(str(tmp_path / "metrics-2026.05"))
    assert back.count() == 1500
    assert back.schema["@timestamp"].dataType.simpleString() == "timestamp"
    files = glob.glob(f"{tmp_path}/metrics-2026.05/part-*")
    assert files and all(".orc" in f for f in files)


def test_dump_warning_report(spark, tmp_path):
    fixture = {
        "weird": {
            "mapping": MAPPING,
            "docs": [
                {"host": "a", "port": "not-a-port", "extra": 1},
                {"host": ["x", "y"], "port": 1},
            ],
        }
    }
    res = dump(
        spark,
        lambda: MockES(fixture),
        "weird",
        str(tmp_path),
        ScanOptions(slices=1),
        SinkOptions(output="parquet"),
    )
    report = "\n".join(res.warning_report())
    assert "port_cast_failures [1 documents]" in report
    assert "unknown_field_values [1 documents]" in report
    assert "multivalue_collapsed [1 documents]" in report


def test_dump_warning_report_counts_nested_fields(spark, tmp_path):
    """One nested dirty doc of each kind: a nested bad cast reports
    under its dotted path; nested unknown keys and multi-values join
    the top-level totals (reference map_source recursion)."""
    mapping = {
        "host": {"type": "keyword"},
        "meta": {
            "properties": {
                "port": {"type": "integer"},
                "geo": {"properties": {"city": {"type": "keyword"}}},
            }
        },
    }
    fixture = {
        "nested": {
            "mapping": mapping,
            "docs": [
                {"host": "a", "meta": {"port": "abc"}},
                {"host": "b", "meta": {"port": 1, "extra": 1}},
                {"host": "c", "meta": {"port": 2, "geo": {"city": ["x", "y"]}}},
                {"host": "d", "meta": {"port": 3, "geo": {"city": "z"}}},
            ],
        }
    }
    res = dump(
        spark,
        lambda: MockES(fixture),
        "nested",
        str(tmp_path),
        ScanOptions(slices=1),
        SinkOptions(output="parquet"),
    )
    assert not res.errors
    counts = {k: v for k, v in res.warnings["nested"].items() if v}
    assert counts == {
        "docs": 4,
        "meta.port_cast_failures": 1,
        "unknown_field_values": 1,
        "multivalue_collapsed": 1,
    }
    report = "\n".join(res.warning_report())
    assert "nested: meta.port_cast_failures [1 documents]" in report
    back = spark.read.parquet(str(tmp_path / "nested")).orderBy("host").collect()
    assert [r.meta.port for r in back] == [None, 1, 2, 3]
    assert [r.meta.geo and r.meta.geo.city for r in back] == [None, None, "x", "z"]


def test_dump_multivalue_array_counts_cast_failures(spark, tmp_path):
    """multivalue='array' schemas declare ArrayType leaves: the warning
    observation casts their first element to the element type (a cast
    to the array type itself fails analysis and loses the index)."""
    fixture = {
        "arr": {
            "mapping": MAPPING,
            "docs": [{"host": "a", "port": [1, 2]}, {"host": "b", "port": "x"}],
        }
    }
    res = dump(
        spark,
        lambda: MockES(fixture),
        "arr",
        str(tmp_path),
        ScanOptions(slices=1, multivalue="array"),
        SinkOptions(output="parquet"),
    )
    assert not res.errors
    counts = {k: v for k, v in res.warnings["arr"].items() if v}
    assert counts == {"docs": 2, "multivalue_collapsed": 1, "port_cast_failures": 1}
    back = spark.read.parquet(str(tmp_path / "arr")).orderBy("host").collect()
    assert [r.port for r in back] == [[1, 2], [None]]


def test_dump_csv_requires_flatten(spark, tmp_path):
    fixture = {
        "nested": {
            "mapping": {"meta": {"properties": {"x": {"type": "keyword"}}}},
            "docs": [{"meta": {"x": "1"}}],
        }
    }
    res = dump(
        spark,
        lambda: MockES(fixture),
        "nested",
        str(tmp_path),
        ScanOptions(slices=1),
        SinkOptions(output="csv"),
    )
    assert "nested" in res.errors  # isolated, not raised
    res2 = dump(
        spark,
        lambda: MockES(fixture),
        "nested",
        str(tmp_path),
        ScanOptions(slices=1, flatten=True),
        SinkOptions(output="csv"),
    )
    assert not res2.errors
    csvs = glob.glob(str(tmp_path / "nested" / "*.csv"))
    assert csvs and "meta_x" in open(csvs[0]).read()


def test_dump_jsonl_raw_gzip(spark, tmp_path):
    res = dump(
        spark,
        factory,
        "metrics-2026.06",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="jsonl", compression="gzip"),
    )
    assert not res.errors
    files = glob.glob(str(tmp_path / "metrics-2026.06" / "*.txt.gz"))
    assert files
    import gzip

    line = gzip.open(files[0], "rt").readline()
    assert json.loads(line)["host"].startswith("web-")


def test_dump_single_file_naming(spark, tmp_path):
    res = dump(
        spark,
        factory,
        "metrics-2026.06",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="parquet", single_file=True),
    )
    assert res.indices["metrics-2026.06"] == str(tmp_path / "metrics-2026.06.parquet")
    assert os.path.exists(tmp_path / "metrics-2026.06.parquet")


def test_dump_single_file_overflow_numbered_no_data_loss(spark, tmp_path):
    """ADVICE r3 (high): when the row bound splits a single_file dump
    into several part files, ALL of them must survive as the
    reference's numbered {index}-NNNN.{ext} flat naming
    (dump-es-parquet:312-316) — the old code moved only the first and
    rmtree'd the rest."""
    res = dump(
        spark,
        factory,
        "metrics-2026.05",  # 1500 docs
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="parquet", single_file=True, partition_rows=400),
    )
    assert not res.errors
    files = sorted(glob.glob(str(tmp_path / "metrics-2026.05-*.parquet")))
    assert len(files) >= 2
    assert files[0].endswith("metrics-2026.05-0000.parquet")
    back = spark.read.parquet(*files)
    assert back.count() == 1500  # nothing silently dropped
    assert not os.path.exists(tmp_path / "metrics-2026.05")  # dir cleaned


def test_dump_per_index_isolation(spark, tmp_path):
    fixture = dict(FIXTURE)
    fixture["metrics-broken"] = {"mapping": None, "docs": []}  # schema fetch crashes
    res = dump(
        spark,
        lambda: MockES(fixture),
        "metrics-*",
        str(tmp_path),
        ScanOptions(slices=1),
        SinkOptions(output="parquet"),
    )
    assert "metrics-broken" in res.errors
    assert "metrics-2026.05" in res.indices  # others still processed


def test_search_after_cursor(spark):
    opts = ScanOptions(slices=3, cursor="search_after", sort="@timestamp:asc")
    df = read_index(spark, factory, "metrics-2026.05", opts)
    assert df.count() == 1500


def test_search_after_resumes_after_failures():
    # transport failures mid-pagination must not skip or duplicate docs
    from dump_es_parquet_spark.sources.client import iter_hits_search_after

    flaky = MockES(make_fixture(), fail_first=3)
    hits = list(
        iter_hits_search_after(
            flaky,
            "metrics-2026.05",
            q=None,
            _source=None,
            sort="@timestamp:asc",
            size=400,
            max_retries=10,
            backoff_s=0,
        )
    )
    assert len(hits) == 1500
    assert len({h["_id"] for h in hits}) == 1500  # no dupes, no gaps


def test_default_cursor_is_retry_idempotent():
    """The DEFAULT ScanOptions cursor is search_after+PIT (VERDICT r4
    #6): scroll ids are consumed-once server state, so the
    reference-parity mode stays opt-in."""
    opts = ScanOptions()
    assert opts.cursor == "search_after"
    assert opts.pit is True


def test_search_after_pit_mid_slice_retry_idempotent():
    """Simulated mid-slice task retry under concurrent writes: attempt
    1 dies partway through its slice (pages already emitted and
    discarded by Spark); the retried attempt re-runs the whole slice.
    The idempotence contract: (a) the retry restarts from the slice's
    beginning against its OWN fresh PIT — every doc of its snapshot
    exactly once, nothing skipped because attempt 1 half-consumed a
    cursor (the scroll-id failure mode), and (b) writes landing DURING
    an attempt are invisible to it — the snapshot is per-attempt, so a
    task's output is internally consistent even mid-ingest."""
    from dump_es_parquet_spark.sources.client import (
        TransportError,
        iter_hits_search_after,
    )

    fixture = make_fixture()
    mock = MockES(fixture)
    n0 = len(fixture["metrics-2026.05"]["docs"])

    class DiesMidSlice:
        """Delegate to MockES but die on the 3rd search page."""

        def __init__(self, inner):
            self.inner = inner
            self.pages = 0

        def search(self, *a, **kw):
            self.pages += 1
            if self.pages == 3:
                raise TransportError("executor lost")
            return self.inner.search(*a, **kw)

        def __getattr__(self, name):
            return getattr(self.inner, name)

    def run_slice(client):
        # "load" is i/100.0 — unique per doc, a serial number in disguise
        return [
            h["_source"]["load"]
            for h in iter_hits_search_after(
                client,
                "metrics-2026.05",
                q=None,
                _source=None,
                sort="@timestamp:asc",
                size=200,
                slice_spec={"id": 1, "max": 3},
                max_retries=0,  # in-task retries off: Spark's task retry
                backoff_s=0,    # is the mechanism under test
                pit=True,
            )
        ]

    # the slice's true membership under the original snapshot
    baseline = run_slice(mock)
    assert len(baseline) > 200  # spans multiple pages

    # attempt 1: dies mid-slice (some pages already emitted)
    with pytest.raises(TransportError):
        run_slice(DiesMidSlice(mock))
    # concurrent writes land between the attempts
    fixture["metrics-2026.05"]["docs"].extend(
        {"load": (n0 + i) / 100.0, "@timestamp": "2026-05-29T12:00:00"}
        for i in range(50)
    )
    # attempt 2 (the Spark re-run of the same slice): fresh PIT, whole
    # slice again — no duplicates, and every old doc of the slice is
    # present (a half-consumed scroll id would have skipped the pages
    # attempt 1 already pulled)
    retried = run_slice(mock)
    assert len(retried) == len(set(retried))
    assert set(baseline) <= set(retried)

    # (b) writes DURING an attempt are invisible: consume one page,
    # mutate the live index, finish — output is exactly the snapshot
    # the attempt's PIT froze at open time
    it = iter(
        iter_hits_search_after(
            mock, "metrics-2026.05", q=None, _source=None,
            sort="@timestamp:asc", size=200,
            slice_spec={"id": 1, "max": 3}, max_retries=0,
            backoff_s=0, pit=True,
        )
    )
    first_page = [next(it) for _ in range(200)]
    frozen_n = len(fixture["metrics-2026.05"]["docs"])
    fixture["metrics-2026.05"]["docs"].extend(
        {"load": (frozen_n + i) / 100.0, "@timestamp": "2026-05-30T12:00:00"}
        for i in range(50)
    )
    rest = list(it)
    seen = [h["_source"]["load"] for h in first_page + rest]
    assert len(seen) == len(set(seen))
    assert all(s < frozen_n / 100.0 for s in seen)  # mid-attempt writes unseen
    assert set(seen) == set(retried)  # identical membership to attempt 2


def test_geo_point_coercion(spark, tmp_path):
    # geo_point → Struct{lat,lon} (reference es2pl_type :46)
    fixture = {
        "geo": {
            "mapping": {"location": {"type": "geo_point"}},
            "docs": [{"location": {"lat": 41.12, "lon": -71.34}}],
        }
    }
    df = read_index(spark, lambda: MockES(fixture), "geo", ScanOptions(slices=1))
    row = df.first()
    assert row.location.lat == 41.12
    assert row.location.lon == -71.34
    assert df.schema["location"].dataType.simpleString() == "struct<lat:double,lon:double>"


def test_dump_hive_partitioning(spark, tmp_path):
    res = dump(
        spark,
        factory,
        "metrics-2026.05",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="parquet", partition_by=("status",)),
    )
    assert not res.errors
    subdirs = sorted(
        p for p in os.listdir(tmp_path / "metrics-2026.05") if p.startswith("status=")
    )
    assert subdirs == ["status=active", "status=idle"]
    # partition pruning works downstream
    back = spark.read.parquet(str(tmp_path / "metrics-2026.05"))
    plan = (
        back.filter("status = 'idle'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(status" in plan
    assert back.filter("status = 'idle'").count() == 500


def test_single_file_jsonl_gzip_reference_naming(spark, tmp_path):
    # reference __output_ext (:206-212): {index}.jsonl.gz in flat mode
    res = dump(
        spark,
        factory,
        "metrics-2026.06",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="jsonl", compression="gzip", single_file=True),
    )
    assert res.indices["metrics-2026.06"] == str(tmp_path / "metrics-2026.06.jsonl.gz")
    import gzip

    with gzip.open(tmp_path / "metrics-2026.06.jsonl.gz", "rt") as f:
        assert json.loads(f.readline())["host"].startswith("web-")


def test_sort_field_missing_no_crash(spark):
    # default --sort @timestamp:asc on an index without that field
    fixture = {
        "nots": {
            "mapping": {"n": {"type": "integer"}},
            "docs": [{"n": i} for i in range(10)],
        }
    }
    df = read_index(
        spark, lambda: MockES(fixture), "nots",
        ScanOptions(slices=1, order="global", sort="@timestamp:asc"),
    )
    assert df.count() == 10


def test_row_bounded_output_files(spark, tmp_path):
    # maxRecordsPerFile honors --max-partition-rows (reference :391-392)
    res = dump(
        spark,
        factory,
        "metrics-2026.05",
        str(tmp_path),
        ScanOptions(slices=1),
        SinkOptions(output="parquet", partition_rows=400),
    )
    assert not res.errors
    files = glob.glob(str(tmp_path / "metrics-2026.05" / "*.parquet"))
    assert len(files) >= 4  # 1500 rows / 400 per file
    import pyarrow.parquet as pq

    assert max(pq.read_metadata(f).num_rows for f in files) <= 400


def test_estimate_row_bytes_sane(spark):
    from dump_es_parquet_spark.sinks import estimate_row_bytes, rows_per_file

    df = read_index(spark, factory, "metrics-2026.06", ScanOptions(slices=1))
    b = estimate_row_bytes(df)
    assert 20 <= b <= 2000  # a few fields ≈ tens of bytes
    # size bound tighter than row bound when partition_mb tiny
    opts = SinkOptions(partition_rows=10**9, partition_mb=1)
    assert rows_per_file(df, opts) < 10**9


def test_dump_ndjson_gzip(spark, tmp_path):
    res = dump(
        spark,
        factory,
        "metrics-2026.06",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="ndjson", compression="gzip"),
    )
    assert not res.errors
    import gzip

    files = glob.glob(str(tmp_path / "metrics-2026.06" / "*.json.gz"))
    assert files
    rec = json.loads(gzip.open(files[0], "rt").readline())
    assert rec["host"].startswith("web-")


def test_restes_ssl_context_selection():
    from dump_es_parquet_spark.sources.client import RestES

    assert RestES("http://x:9200")._ssl_context() is None
    ctx = RestES("https://x:9200", verify_certs=False)._ssl_context()
    assert ctx is not None and ctx.check_hostname is False


def test_stdout_mode(spark, capsys):
    from dump_es_parquet_spark.sinks import write_stdout
    from dump_es_parquet_spark.sources.scan import read_index_raw

    raw = read_index_raw(spark, factory, "metrics-2026.06", ScanOptions(slices=2))
    n = write_stdout(raw, limit=5)
    assert n == 5
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    assert json.loads(out[0])["host"].startswith("web-")


def test_warning_counts_cover_full_dump(spark, tmp_path):
    """The warning observation is satisfied by the WRITE job, not by
    any sampling pre-action: with >1000 docs (the old Spark-side
    sampler's limit) and default partitioning, 'docs' must equal the
    full corpus count — a truncated-sample observation would report
    ≤1000 here."""
    n = 1500
    fixture = {
        "big": {
            "mapping": MAPPING,
            "docs": [{"host": f"h{i}", "port": [i, i + 1]} for i in range(n)],
        }
    }
    res = dump(
        spark,
        lambda: MockES(fixture),
        "big",
        str(tmp_path),
        ScanOptions(slices=2),
        SinkOptions(output="parquet"),  # partition=True (default)
    )
    assert not res.errors
    assert res.warnings["big"]["docs"] == n
    assert res.warnings["big"]["multivalue_collapsed"] == n


def test_search_after_first_page_not_skipped():
    """The first page omits search_after entirely: a literal [0]
    cursor means 'after sort value 0' on a real server and would skip
    documents sorting at or below 0."""
    from dump_es_parquet_spark.sources.client import iter_hits_search_after

    fixture = {
        "nums": {
            "mapping": {"n": {"type": "integer"}},
            "docs": [{"n": i} for i in range(10)],  # includes n=0
        }
    }
    hits = list(
        iter_hits_search_after(
            MockES(fixture), "nums", q=None, _source=None,
            sort="n:asc", size=3, backoff_s=0,
        )
    )
    assert [h["_source"]["n"] for h in hits] == list(range(10))


def test_search_after_pages_resume_from_cursor():
    """A page's cursor resumes the scan right after that page: the
    pages read after resuming equal the rest of an uninterrupted
    scan."""
    from dump_es_parquet_spark.sources.client import iter_pages_search_after

    fixture = {
        "ties": {
            "mapping": MAPPING,
            "docs": [{"host": f"h{i}", "@timestamp": i // 4} for i in range(30)],
        }
    }

    def pages(cursor=None):
        return list(iter_pages_search_after(
            MockES(fixture), "ties", q=None, _source=None,
            sort="@timestamp:asc", size=7, backoff_s=0, cursor=cursor,
        ))

    full = pages()
    assert [len(h) for h, _ in full] == [7, 7, 7, 7, 2]
    assert full[-1][1] == full[-1][0][-1]["sort"]
    resumed = pages(full[1][1])
    assert [[h["_id"] for h in hits] for hits, _ in resumed] == [
        [h["_id"] for h in hits] for hits, _ in full[2:]
    ]


def test_scan_options_from_esdump_options():
    """The esdump string options parse to ScanOptions in one place;
    unset options keep the field defaults except ``sort``."""
    from dump_es_parquet_spark.sources.scan import DEFAULT_SORT

    assert ScanOptions.from_options({}) == ScanOptions(sort=None)
    assert ScanOptions.from_options({}, sort=DEFAULT_SORT) == ScanOptions()
    assert ScanOptions.from_options(
        {"query": "a:1", "fields": "a,b", "sort": "a:desc", "size": "9",
         "scroll": "5m", "cursor": "scroll", "pit": "false", "slices": "3",
         "flatten": "true", "multivalue": "array"}
    ) == ScanOptions(
        query="a:1", fields="a,b", sort="a:desc", size=9, scroll="5m",
        cursor="scroll", pit=False, slices=3, flatten=True, multivalue="array",
    )


def test_search_after_ties_at_page_boundary():
    """Documents sharing the last sort value at a page boundary are
    not skipped: the automatic _id tie-breaker makes the cursor
    unique. 50 docs share one timestamp, page size 7."""
    from dump_es_parquet_spark.sources.client import iter_hits_search_after

    fixture = {
        "ties": {
            "mapping": MAPPING,
            "docs": [{"host": f"h{i}", "@timestamp": "2026-05-01T00:00:00"}
                     for i in range(50)],
        }
    }
    hits = list(
        iter_hits_search_after(
            MockES(fixture), "ties", q=None, _source=None,
            sort="@timestamp:asc", size=7, backoff_s=0,
        )
    )
    assert len(hits) == 50
    assert len({h["_id"] for h in hits}) == 50


def test_pit_snapshot_isolation():
    """cursor='search_after' with pit=True freezes a point-in-time
    view like the reference's scroll context: documents added mid-scan
    are invisible, while the plain search_after cursor sees them."""
    from dump_es_parquet_spark.sources.client import iter_hits_search_after

    def fresh():
        return {
            "live": {
                "mapping": MAPPING,
                "docs": [{"host": f"h{i}", "@timestamp": f"2026-05-01T00:00:{i:02d}"}
                         for i in range(20)],
            }
        }

    # PIT: mutation after the first page is invisible
    fixture = fresh()
    client = MockES(fixture)
    it = iter_hits_search_after(
        client, "live", q=None, _source=None, sort="@timestamp:asc",
        size=5, backoff_s=0, pit=True,
    )
    first = [next(it) for _ in range(5)]
    fixture["live"]["docs"].append(
        {"host": "new", "@timestamp": "2026-05-01T00:00:05.5"}
    )
    rest = list(it)
    assert len(first) + len(rest) == 20
    assert all(h["_source"]["host"] != "new" for h in rest)
    assert client._pits == {}  # PIT closed on exhaustion

    # plain search_after: same mutation IS visible (21 docs)
    fixture2 = fresh()
    client2 = MockES(fixture2)
    it2 = iter_hits_search_after(
        client2, "live", q=None, _source=None, sort="@timestamp:asc",
        size=5, backoff_s=0,
    )
    first2 = [next(it2) for _ in range(5)]
    fixture2["live"]["docs"].append(
        {"host": "new", "@timestamp": "2026-05-01T00:00:05.5"}
    )
    assert len(first2) + len(list(it2)) == 21


def test_raw_global_order(spark, tmp_path):
    """order='global' on a raw mode (jsonl) yields reference-identical
    global sort order via a single-slice sequential scan — raw [value]
    frames can't be re-sorted by typed fields."""
    res = dump(
        spark,
        factory,
        "metrics-2026.06",
        str(tmp_path),
        ScanOptions(slices=4, order="global", sort="@timestamp:asc,load:asc"),
        SinkOptions(output="jsonl", partition=False),
    )
    assert not res.errors
    files = sorted(glob.glob(str(tmp_path / "metrics-2026.06" / "part-*")))
    assert len(files) == 1  # single slice → one output partition
    recs = [json.loads(line) for f in files for line in open(f)]
    keys = [(r["@timestamp"], r["load"]) for r in recs]
    assert len(recs) == 100
    assert keys == sorted(keys)


def test_cli_attributes_publishes_table(spark, tmp_path):
    """`--attributes ID:TEXT` dumps the index AND publishes the
    tag-once attributes table beside it in one pass; an index missing
    the columns dumps normally with the attributes step skipped."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [
        {"did": i, "body": f"the quick document number {i} is a test of "
                           f"attributes and it contains words"}
        for i in range(40)
    ]
    fixture = {
        "corpus": {
            "mapping": {"did": {"type": "long"}, "body": {"type": "text"}},
            "docs": docs,
        },
        "metrics": {  # no text columns — must be skipped, not fail
            "mapping": {"n": {"type": "integer"}},
            "docs": [{"n": 1}, {"n": 2}],
        },
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    rc = main([
        "*", "--fixture-json", str(fp), "--out", str(tmp_path),
        "--slices", "1", "--quiet", "--attributes", "did:body",
    ])
    assert rc == 0
    attrs = spark.read.parquet(str(tmp_path / "corpus_attributes"))
    assert attrs.count() == 40
    cols = set(attrs.columns)
    assert {"did", "n_tokens", "lang_guess", "top_word_frac", "n_email"} <= cols
    row = attrs.orderBy("did").first()
    assert row.lang_guess == "en" and row.n_tokens == 14
    # the non-text index dumped fine, no attributes table
    assert spark.read.parquet(str(tmp_path / "metrics")).count() == 2
    import os
    assert not os.path.exists(str(tmp_path / "metrics_attributes"))


def test_cli_attributes_bad_spec_is_usage_error(tmp_path):
    from dump_es_parquet_spark.cli import main

    assert main(["idx", "--out", str(tmp_path), "--quiet",
                 "--attributes", "justonecol"]) == 2


def test_cli_attributes_with_follow_is_error(tmp_path):
    from dump_es_parquet_spark.cli import main

    assert main(["idx", "--follow", "--out", str(tmp_path), "--quiet",
                 "--attributes", "a:b"]) == 2


def test_cli_attributes_with_restore_is_error(tmp_path):
    """--attributes combined with --restore-from must be a usage error
    (validated BEFORE the restore branch): restore reads an already-
    tagged lake, so a spec here was previously silently ignored
    (ADVICE r07) — and a malformed spec must error on this path too."""
    from dump_es_parquet_spark.cli import main

    assert main(["idx", "--restore-from", str(tmp_path / "lake"),
                 "--quiet", "--attributes", "a:b"]) == 2
    assert main(["idx", "--restore-from", str(tmp_path / "lake"),
                 "--quiet", "--attributes", "justonecol"]) == 2


def test_cli_attributes_path_collision_suffixes(spark, tmp_path):
    """A REAL index literally named '<idx>_attributes' matched by the
    same pattern previously raced the attributes table for the same
    output path — whichever was written last silently clobbered the
    other (ADVICE r07). The attributes table must detect the collision
    and publish under a suffixed path, leaving the real index's dump
    intact."""
    import json

    from dump_es_parquet_spark.cli import main

    docs = [
        {"did": i, "body": f"the quick document number {i} is a test of "
                           f"collision handling and it contains words"}
        for i in range(10)
    ]
    fixture = {
        "corpus": {
            "mapping": {"did": {"type": "long"}, "body": {"type": "text"}},
            "docs": docs,
        },
        "corpus_attributes": {  # a real index squatting on the path
            "mapping": {"n": {"type": "integer"}},
            "docs": [{"n": 1}, {"n": 2}, {"n": 3}],
        },
    }
    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps(fixture))
    rc = main([
        "*", "--fixture-json", str(fp), "--out", str(tmp_path),
        "--slices", "1", "--quiet", "--attributes", "did:body",
    ])
    assert rc == 0
    # the real index's dump survived at its own name
    assert spark.read.parquet(str(tmp_path / "corpus_attributes")).count() == 3
    # the attributes table landed at the suffixed path
    attrs = spark.read.parquet(str(tmp_path / "corpus_attributes_"))
    assert attrs.count() == 10
    assert "n_tokens" in attrs.columns


# ---------------------------------------------------------------------------
# per-index fixed cost: slice sizing and coercion reuse
# ---------------------------------------------------------------------------


def _logged_es(fixture: dict, log_path: str):
    """A MockES factory whose clients append each call (name, slice
    spec) to ``log_path`` — from the driver and the Python workers."""

    class Logged:
        def __init__(self):
            self._es = MockES(fixture)

        def __getattr__(self, name):
            fn = getattr(self._es, name)

            def call(*args, **kwargs):
                with open(log_path, "a") as fh:
                    fh.write(json.dumps([name, kwargs.get("slice_spec")]) + "\n")
                return fn(*args, **kwargs)

            return call

    return Logged


def _calls(log_path) -> list:
    with open(log_path) as fh:
        return [json.loads(line) for line in fh]


def test_dump_small_index_reads_one_slice(spark, tmp_path):
    """Default options on a 300-doc index: the probe's exact total caps
    the 8 slices at one — one PIT, no slice spec, one part file."""
    log = str(tmp_path / "calls.jsonl")
    fixture = {"small": {"mapping": MAPPING, "docs": make_fixture(300)["metrics-2026.05"]["docs"]}}
    res = dump(spark, _logged_es(fixture, log), "small", str(tmp_path / "out"))
    assert not res.errors
    calls = _calls(log)
    assert [c for c, _ in calls].count("open_pit") == 1
    assert all(spec is None for c, spec in calls if c == "search")
    files = glob.glob(str(tmp_path / "out" / "small" / "part-*.parquet"))
    assert len(files) == 1
    assert spark.read.parquet(*files).count() == 300


def test_dump_multi_slice_reads_every_doc_once(spark, tmp_path):
    """1,500 docs at size 200 keep all 8 slices: 8 PITs, every slice
    spec says ``max == 8``, and each document is written exactly once."""
    log = str(tmp_path / "calls.jsonl")
    docs = [dict(d, port=i) for i, d in enumerate(make_fixture(1500)["metrics-2026.05"]["docs"])]
    fixture = {"big": {"mapping": MAPPING, "docs": docs}}
    res = dump(
        spark, _logged_es(fixture, log), "big", str(tmp_path / "out"), ScanOptions(size=200)
    )
    assert not res.errors
    calls = _calls(log)
    assert [c for c, _ in calls].count("open_pit") == 8
    specs = [spec for c, spec in calls if c == "search" and spec is not None]
    assert {s["max"] for s in specs} == {8}
    assert {s["id"] for s in specs} == set(range(8))
    ports = [r.port for r in spark.read.parquet(str(tmp_path / "out" / "big")).collect()]
    assert sorted(ports) == list(range(1500))


def test_cli_no_pit_warning_is_not_the_size_cap(tmp_path, capsys):
    """The ``--no-pit`` single-slice warning fires for ``--no-pit``
    only: a default dump whose small index the size cap reads as one
    slice prints no warning."""
    from dump_es_parquet_spark.cli import main

    fp = tmp_path / "fixture.json"
    fp.write_text(json.dumps({"small": FIXTURE["unrelated-index"]}))
    args = ["small", "--fixture-json", str(fp), "--quiet"]
    assert main(args + ["--out", str(tmp_path / "a")]) == 0
    assert "--no-pit" not in capsys.readouterr().err
    assert main(args + ["--out", str(tmp_path / "b"), "--no-pit"]) == 0
    assert "--no-pit disables sliced scans" in capsys.readouterr().err


def _dirty_fixture() -> dict:
    """Two same-mapping indices with different dirty documents."""
    return {
        "dirty-a": {"mapping": MAPPING, "docs": [
            {"host": "a", "port": "x"},
            {"host": "b", "port": "y", "extra": 1},
            {"host": "c", "port": 1},
        ]},
        "dirty-b": {"mapping": MAPPING, "docs": [
            {"host": ["x", "y"], "port": 2},
            {"host": "d", "load": "heavy"},
        ]},
    }


def test_dump_same_mapping_indices_keep_their_own_warnings(spark, tmp_path):
    """Indices sharing one built coercion still observe only their own
    rows: each index's warnings are its own counts, neither summed nor
    shared."""
    fixture = _dirty_fixture()
    res = dump(spark, lambda: MockES(fixture), "dirty-*", str(tmp_path))
    assert not res.errors

    def nonzero(counts):
        return {k: v for k, v in counts.items() if v}

    assert nonzero(res.warnings["dirty-a"]) == {
        "docs": 3, "port_cast_failures": 2, "unknown_field_values": 1,
    }
    assert nonzero(res.warnings["dirty-b"]) == {
        "docs": 2, "multivalue_collapsed": 1, "load_cast_failures": 1,
    }


def test_dump_builds_coercion_once_per_mapping(spark, tmp_path, monkeypatch):
    """One ``dump`` builds the coercion once per distinct mapping, and
    no build outlives its ``dump`` call."""
    from dump_es_parquet_spark import coerce

    builds: list = []
    real = coerce.build_coercion

    def counting(*args, **kwargs):
        builds.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(coerce, "build_coercion", counting)
    docs = FIXTURE["unrelated-index"]["docs"]
    fixture = {f"same-{i}": {"mapping": MAPPING, "docs": docs} for i in range(3)}
    fixture["other"] = {"mapping": {"n": {"type": "integer"}}, "docs": [{"n": 1}]}
    res = dump(spark, lambda: MockES(fixture), "same-*", str(tmp_path / "a"))
    assert not res.errors and len(res.indices) == 3
    assert len(builds) == 1
    builds.clear()
    res = dump(spark, lambda: MockES(fixture), "*", str(tmp_path / "b"))
    assert not res.errors and len(res.indices) == 4
    assert len(builds) == 2
    builds.clear()
    # read_pattern reads through the same per-index path
    dfs = read_pattern(spark, lambda: MockES(fixture), "same-*")
    assert len(dfs) == 3 and len(builds) == 1


def test_read_pattern_small_indices_read_one_slice(spark, tmp_path):
    """``read_pattern`` probes each index like ``dump``: a 300-doc
    index is one partition and one PIT, not ``slices`` of each."""
    log = str(tmp_path / "calls.jsonl")
    docs = make_fixture(300)["metrics-2026.05"]["docs"]
    fixture = {f"small-{i}": {"mapping": MAPPING, "docs": docs} for i in range(2)}
    dfs = read_pattern(spark, _logged_es(fixture, log), "small-*")
    assert {i: df.rdd.getNumPartitions() for i, df in dfs.items()} == {
        "small-0": 1, "small-1": 1,
    }
    assert [df.count() for df in dfs.values()] == [300, 300]
    assert [c for c, _ in _calls(log)].count("open_pit") == 2


def test_read_pattern_unioned_global_order(spark):
    """``order='global'`` orders the union, not each index: two indices
    with interleaved timestamps come back as one sorted sequence."""
    from dump_es_parquet_spark.sources.scan import read_pattern_unioned

    fixture = {
        name: {"mapping": MAPPING, "docs": [
            {"host": name, "@timestamp": f"2026-05-{d:02d}T00:00:00"}
            for d in range(1 + k, 21, 2)
        ]}
        for k, name in enumerate(["ts-a", "ts-b"])
    }
    opts = ScanOptions(order="global", sort="@timestamp:asc", slices=2)
    rows = read_pattern_unioned(spark, lambda: MockES(fixture), "ts-*", opts).collect()
    assert len(rows) == 20
    ts = [r["@timestamp"] for r in rows]
    assert ts == sorted(ts)
    assert {r["_index"] for r in rows} == {"ts-a", "ts-b"}
