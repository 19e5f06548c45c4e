"""CLI reproducing the reference's argparse surface
(``dump-es-parquet:356-433``), driving the Spark pipeline.

Usage::

    python -m dump_es_parquet_spark.cli 'my-data-*' --es http://es-host:9200 \
        --output parquet --query 'status:active' --fields 'a,b,meta.*' \
        --sort '@timestamp:asc' --out ./dump

Extra engine flags (not in the reference): ``--slices`` (scan
parallelism), ``--multivalue array``, ``--order global``, ``--out``
(output directory; the reference writes to CWD).
"""

from __future__ import annotations

import argparse
import logging
import sys

from dump_es_parquet_spark.pipeline import UBER, dump
from dump_es_parquet_spark.session import get_spark
from dump_es_parquet_spark.sinks import DEFAULT_MAX_MB, DEFAULT_MAX_ROWS, SinkOptions
from dump_es_parquet_spark.sources.scan import DEFAULT_SORT, ScanOptions, effective_slices


def build_parser() -> argparse.ArgumentParser:
    # flag-for-flag with dump-es-parquet:369-433 (defaults cited)
    p = argparse.ArgumentParser(
        prog="dump-es-parquet-spark",
        description="Dump Elasticsearch/OpenSearch indices to parquet/"
        "ndjson/csv/jsonl via Spark",
    )
    p.add_argument("index", help="source index pattern")  # :370
    p.add_argument("--es", default="http://localhost:9200",
                   help="source cluster address")  # :371
    p.add_argument("--cert", default=None, help="Client x509 certificate")
    p.add_argument("--key", default=None, help="Client x509 key")
    p.add_argument("--capath", default=None, help="Path to CA certificates")
    p.add_argument("--no-verify-certs", action="store_true",
                   help="Do not verify x509 certificates")
    p.add_argument("--output", default="parquet",
                   choices=["parquet", "orc", "ndjson", "csv", "jsonl", "stdout"])
    p.add_argument("--compression", default="uncompressed",
                   choices=["uncompressed", "gzip", "zstd"])  # :392
    p.add_argument("--sort", default=DEFAULT_SORT)  # :380
    p.add_argument("--size", type=int, default=500)  # :379
    p.add_argument("--timeout", type=int, default=60)  # :381
    p.add_argument("--scroll", default="1h")  # :382 (cursor/PIT TTL)
    p.add_argument("--cursor", default="search_after",
                   choices=["search_after", "scroll"],
                   help="pagination cursor: search_after+PIT (default, "
                        "retry-idempotent) or scroll (reference parity)")
    p.add_argument("--no-pit", action="store_true",
                   help="search_after without a point-in-time context "
                        "(pre-7.10 servers; forfeits snapshot isolation "
                        "AND scan parallelism — ES only accepts sliced "
                        "scans inside a PIT/scroll context, so this "
                        "forces --slices 1)")
    p.add_argument("--flatten", action="store_true")  # :388-390
    p.add_argument("--query", default=None)  # :385
    p.add_argument("--fields", default=None)  # :386-387
    p.add_argument("--max-partition-rows", type=int, default=DEFAULT_MAX_ROWS)
    p.add_argument("--max-partition-mb", type=int, default=DEFAULT_MAX_MB)
    p.add_argument("--no-partition", action="store_true")  # :396
    p.add_argument("--debug", action="store_true",
                   help="Enable debug logging")  # :398
    p.add_argument("--quiet", action="store_true",
                   help="Disable most logging (ignored if --debug)")  # :399
    p.add_argument("-v", "--verbose", action="count", default=0,
                   help="engine extension: -v INFO, -vv DEBUG")
    # engine extensions
    p.add_argument("--out", default=".", help="output directory")
    p.add_argument("--slices", type=int, default=8,
                   help="scan parallelism, an upper bound: a dump caps it "
                   "at ceil(matching docs / --size) per index")
    p.add_argument("--multivalue", default="first", choices=["first", "array"])
    p.add_argument("--order", default="slice", choices=["slice", "global"])
    p.add_argument("--single-file", action="store_true",
                   help="reference-compatible flat {index}.{ext} naming")
    p.add_argument("--master", default=None, help="spark master override")
    # continuous (streaming) dump — engine extension
    p.add_argument("--follow", action="store_true",
                   help="keep dumping as the index grows (timestamp-"
                   "watermark stream; requires a concrete index name, "
                   "parquet or ndjson output)")
    p.add_argument("--follow-once", action="store_true",
                   help="with --follow: drain what's available, then exit "
                   "(availableNow trigger) — resumable via --checkpoint")
    p.add_argument("--follow-interval", type=int, default=30,
                   help="with --follow: trigger interval in seconds")
    p.add_argument("--checkpoint", default=None,
                   help="stream checkpoint dir (default {out}/_checkpoint_"
                   "{index})")
    p.add_argument("--ts-field", default="@timestamp",
                   help="event-time field for --follow watermarks")
    p.add_argument("--chunk-seconds", type=int, default=None,
                   help="with --follow: tile each micro-batch into bounded "
                   "time chunks (bounded per-task scans on big backfills)")
    p.add_argument("--follow-dedup-key", default=None,
                   help="with --follow: comma-separated key columns; "
                   "re-delivered docs (retried pages) collapse to one row "
                   "per key within the dedup watermark "
                   "(dropDuplicatesWithinWatermark, bounded state)")
    p.add_argument("--follow-dedup-watermark", type=int, default=3600,
                   help="with --follow-dedup-key: event-time watermark in "
                   "seconds bounding dedup state")
    p.add_argument("--follow-upsert-key", default=None,
                   help="with --follow: comma-separated document key "
                   "columns; maintain a LATEST-STATE table (last write "
                   "wins, bucket-partitioned parquet merge) instead of "
                   "appending history. Requires --output parquet")
    p.add_argument("--follow-upsert-version", default=None,
                   help="with --follow-upsert-key: comma-separated version "
                   "columns deciding 'latest' (default: the --ts-field)")
    p.add_argument("--follow-upsert-buckets", type=int, default=64,
                   help="hash buckets partitioning the latest-state table; "
                   "an increment rewrites only touched buckets")
    p.add_argument("--restore-from", default=None,
                   help="reverse mode: read this parquet path and "
                   "bulk-index it INTO the index (per-partition _bulk; "
                   "--size is the batch size)")
    p.add_argument("--restore-id-col", default=None,
                   help="with --restore-from: column providing the "
                   "document _id (makes task retries idempotent "
                   "overwrites instead of duplicates)")
    p.add_argument("--restore-create-index", action="store_true",
                   help="with --restore-from: PUT the index first with "
                   "a mapping derived from the parquet schema (avoids "
                   "ES dynamic-mapping timestamps as text)")
    p.add_argument("--attributes", default=None, metavar="ID_COL:TEXT_COL",
                   help="also publish the per-document curation "
                   "attributes table (token/length stats, language "
                   "guess, PII counts, repetition fractions) as "
                   "<out>/<index>_attributes parquet — dump and tag in "
                   "one pass; indices missing either column are "
                   "skipped with a warning")
    p.add_argument("--fixture-json", default=argparse.SUPPRESS,
                   help=argparse.SUPPRESS)  # testing hook: mock ES fixture file
    return p


def _follow(spark, args) -> int:
    """Continuous dump: ``esdump`` timeslice stream → parquet/ndjson
    sink with checkpointed exactly-once delivery. The batch scan's
    one-shot dump becomes `tail -f` for an index."""
    import os

    from dump_es_parquet_spark.sources.datasource import register

    if args.output not in ("parquet", "ndjson"):
        print("--follow supports --output parquet|ndjson", file=sys.stderr)
        return 2
    if args.follow_upsert_key and args.output != "parquet":
        print("--follow-upsert-key requires --output parquet", file=sys.stderr)
        return 2
    if any(c in args.index for c in "*?,"):
        # A pattern would be embedded verbatim in the output dir and
        # checkpoint path (literal '*' directory) and the stream's
        # single-index search would dump whatever the server resolves
        # per trigger — reject instead of silently misbehaving.
        print(
            "--follow requires a concrete index name, not a pattern: "
            f"{args.index!r}",
            file=sys.stderr,
        )
        return 2
    register(spark)
    # the batch dump's scan flags, as esdump options (unset ones omitted)
    opts = dict(
        index=args.index, stream_mode="timeslice", ts_field=args.ts_field,
        chunk_seconds=args.chunk_seconds, query=args.query,
        fields=args.fields, sort=args.sort, size=args.size,
        scroll=args.scroll, cursor=args.cursor, pit=not args.no_pit,
        slices=args.slices, flatten=args.flatten, multivalue=args.multivalue,
    )
    fixture_path = getattr(args, "fixture_json", None)
    if fixture_path:
        with open(fixture_path) as f:
            opts["fixture_json"] = f.read()
    else:
        opts.update(
            url=args.es, timeout=args.timeout, cert=args.cert, key=args.key,
            capath=args.capath, verify_certs=not args.no_verify_certs,
        )
    b = spark.readStream.format("esdump").options(
        **{k: v for k, v in opts.items() if v is not None}
    )
    out_dir = os.path.join(args.out, args.index)
    ck = args.checkpoint or os.path.join(args.out, f"_checkpoint_{args.index}")
    df = b.load()
    if args.follow_dedup_key:
        # re-delivered docs (retried pages, at-least-once upstream)
        # collapse to one row per key while state stays bounded by the
        # watermark (dropDuplicatesWithinWatermark)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from dump_es_parquet_spark.coerce import EPOCH_SECONDS_MILLIS_CUTOFF
        from dump_es_parquet_spark.streaming.stream import dedup_stream

        wm_col = args.ts_field
        derived = not isinstance(
            df.schema[args.ts_field].dataType, T.TimestampType
        )
        if derived:
            # epoch-typed ts field (long date mappings): derive the
            # event-time column with the seconds/millis heuristic
            ts = F.col(args.ts_field).cast("long")
            wm_col = "_wm_ts"
            df = df.withColumn(
                wm_col,
                F.when(
                    ts < EPOCH_SECONDS_MILLIS_CUTOFF, F.timestamp_seconds(ts)
                ).otherwise(F.timestamp_millis(ts)),
            )
        df = dedup_stream(
            df,
            [k.strip() for k in args.follow_dedup_key.split(",")],
            watermark=f"{args.follow_dedup_watermark} seconds",
            ts_col=wm_col,
        )
        if derived:
            df = df.drop(wm_col)
    if args.follow_upsert_key:
        # latest-state mode: merge each micro-batch (last write wins)
        # into a bucket-partitioned parquet table instead of appending
        # history — the `tail -f` that converges to the index's current
        # documents (operators/snapshot.upsert_latest)
        from dump_es_parquet_spark.operators.snapshot import follow_upsert

        trig = (
            {"availableNow": True}
            if args.follow_once
            else {"processingTime": f"{args.follow_interval} seconds"}
        )
        q = follow_upsert(
            df,
            out_dir,
            ck,
            [k.strip() for k in args.follow_upsert_key.split(",")],
            [v.strip() for v in (args.follow_upsert_version or args.ts_field).split(",")],
            n_buckets=args.follow_upsert_buckets,
            trigger=trig,
        )
        q.awaitTermination()
        return 0
    w = (
        df.writeStream.format({"parquet": "parquet", "ndjson": "json"}[args.output])
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
    )
    if args.compression != "uncompressed":
        w = w.option("compression", args.compression)
    if args.follow_once:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = w.trigger(processingTime=f"{args.follow_interval} seconds").start()
        q.awaitTermination()
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    # reference precedence (:401-407): --debug > --quiet > default
    if args.debug:
        level = logging.DEBUG
    elif args.quiet:
        level = logging.ERROR
    else:
        level = {0: UBER, 1: logging.INFO}.get(args.verbose, logging.DEBUG)
    logging.basicConfig(level=level, stream=sys.stderr)

    fixture_path = getattr(args, "fixture_json", None)
    if fixture_path:
        import json as _json

        from dump_es_parquet_spark.sources.client import MockES

        with open(fixture_path) as f:
            fixture = _json.loads(f.read())

        def client_factory():
            return MockES(fixture)

    else:

        def client_factory():
            from dump_es_parquet_spark.sources.client import RestES

            return RestES(
                args.es,
                timeout=args.timeout,
                cert=args.cert,
                key=args.key,
                capath=args.capath,
                verify_certs=not args.no_verify_certs,
            )

    scan = ScanOptions(
        query=args.query,
        fields=args.fields,
        sort=args.sort,
        size=args.size,
        scroll=args.scroll,
        cursor=args.cursor,
        pit=not args.no_pit,
        slices=args.slices,
        flatten=args.flatten,
        multivalue=args.multivalue,
        order=args.order,
    )
    if effective_slices(scan) < scan.slices:
        print(
            "warning: --no-pit disables sliced scans (ES rejects the "
            "slice parameter outside a PIT/scroll context); running "
            "single-slice. Use --cursor scroll for parallel scans on "
            "pre-7.10 servers.",
            file=sys.stderr,
        )
    sink = SinkOptions(
        output=args.output,
        compression=None if args.compression == "uncompressed" else args.compression,
        partition=not args.no_partition,
        partition_rows=args.max_partition_rows,
        partition_mb=args.max_partition_mb,
        single_file=args.single_file,
    )
    # validate --attributes BEFORE branching into restore/follow
    # handling: a malformed spec (or an unsupported mode combination)
    # must be a usage error everywhere, not silently ignored on the
    # non-dump paths (ADVICE r07)
    attributes = None
    if args.attributes:
        parts = args.attributes.split(":")
        if len(parts) != 2 or not all(parts):
            print("error: --attributes expects ID_COL:TEXT_COL",
                  file=sys.stderr)
            return 2
        if args.restore_from:
            # restore reads a lake the dump (and its attributes step)
            # already produced; tagging has nothing to run on here
            print("error: --attributes is not supported with "
                  "--restore-from", file=sys.stderr)
            return 2
        if args.follow:
            # the follow pipeline's micro-batches would need per-batch
            # attribute merging — not implemented; fail loudly instead
            # of silently dumping without the table the user asked for
            print("error: --attributes is not supported with --follow",
                  file=sys.stderr)
            return 2
        attributes = (parts[0], parts[1])
    spark = get_spark(master=args.master)
    if args.restore_from:
        # reverse mode: parquet → _bulk into the index (the dump's
        # other half; elasticdump-style reload)
        from dump_es_parquet_spark.restore import restore_index

        df = spark.read.parquet(args.restore_from)
        n = restore_index(
            df,
            client_factory,
            args.index,
            id_col=args.restore_id_col,
            batch_size=args.size,
            create_index=args.restore_create_index,
        )
        print(f"restored {n} documents into {args.index}", file=sys.stderr)
        return 0
    if args.follow:
        return _follow(spark, args)
    result = dump(spark, client_factory, args.index, args.out, scan, sink,
                  attributes=attributes)
    for line in result.warning_report():
        print(line, file=sys.stderr)
    return 1 if result.errors and not result.indices else 0


if __name__ == "__main__":
    raise SystemExit(main())
