"""Dump pipeline: pattern → per-index scan → coerce → sink, with
per-index error isolation and the end-of-run warning report.

This is the reference's ``Processor.process`` / ``process_index``
orchestration (``dump-es-parquet:87-95, 214-310``) over the Spark
building blocks. Each index is one Spark job; an exception in one
index is logged and the loop continues (``:87-95``).
"""

from __future__ import annotations

import logging
import traceback
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession

from dump_es_parquet_spark.coerce import parse_and_coerce
from dump_es_parquet_spark.sinks import (
    SinkOptions,
    bounded_rows_per_file,
    estimate_row_bytes_from_docs,
    write,
    write_stdout,
)
from dump_es_parquet_spark.sources.scan import (
    ScanOptions,
    expand_pattern,
    fetch_schema,
    read_index_raw,
    _sort_columns,
)

logger = logging.getLogger(__name__)

#: custom ultra-visible log level, reference :410
UBER = 99
logging.addLevelName(UBER, "UBER")

#: formats that build a typed DataFrame (reference build_df, :58)
DF_OUTPUTS = ("parquet", "orc", "ndjson", "csv")


@dataclass
class DumpResult:
    indices: dict[str, str | int] = field(default_factory=dict)  # index → path|rows
    warnings: dict[str, dict[str, int]] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)

    def warning_report(self) -> list[str]:
        """Reference end-of-run report lines: ``msg [N documents]``
        (``:304-305, 352-353``)."""
        lines = []
        for idx, counts in self.warnings.items():
            for msg, n in counts.items():
                if msg != "docs" and n:
                    lines.append(f"{idx}: {msg} [{n} documents]")
        return lines


def _sample_rows_per_file(
    client, idx: str, scan: ScanOptions, sink: SinkOptions
) -> int | None:
    """maxRecordsPerFile for one index from a single driver-side page
    fetch (no scroll context, no Spark job): raw ``_source`` JSON size
    approximates the written row width closely enough for the MB bound
    — and keeps each index's distributed scan single-pass."""
    if not sink.partition or sink.output == "stdout":
        return None
    resp = client.search(
        idx,
        q=scan.query,
        _source=scan.source_includes(),
        sort=None,
        size=min(1000, scan.size),
        scroll=None,
    )
    docs = [h.get("_source", {}) for h in resp.get("hits", {}).get("hits", [])]
    return bounded_rows_per_file(estimate_row_bytes_from_docs(docs), sink)


def dump(
    spark: SparkSession,
    client_factory,
    index_pattern: str,
    output_path: str,
    scan: ScanOptions | None = None,
    sink: SinkOptions | None = None,
    attributes: tuple[str, str] | None = None,
) -> DumpResult:
    """The full reference entry point: enumerate indices, scan each,
    coerce (DF modes) or passthrough (raw modes), write partitioned
    output named per index.

    ``attributes=(id_col, text_col)`` additionally publishes the
    tag-once curation attributes table (``text.document_attributes``)
    as ``<out>/<index>_attributes`` parquet for each parquet/ORC index
    that carries both columns — computed from the files the dump just
    wrote (never a second source scroll), so the table is exactly
    consistent with the dumped rows and downstream curation never
    re-reads text. Indices missing either column are skipped with a
    warning (the flag applies to a whole index pattern; not every
    index is a text corpus)."""
    scan = scan or ScanOptions()
    sink = sink or SinkOptions()
    build_df = sink.output in DF_OUTPUTS
    result = DumpResult()

    indices = expand_pattern(client_factory(), index_pattern, scan)
    for idx in indices:
        try:
            logger.log(UBER, "Processing index %s", idx)
            eff_scan = scan
            if scan.order == "global" and not build_df:
                # raw modes can't re-sort a [value: string] frame by
                # typed fields; global order is produced the way the
                # reference produces it — one sequential sorted scan
                # (dump-es-parquet:226,380)
                from dataclasses import replace

                eff_scan = replace(scan, slices=1)
            raw = read_index_raw(spark, client_factory, idx, eff_scan)
            rpf = _sample_rows_per_file(client_factory(), idx, scan, sink)
            if build_df:
                schema = fetch_schema(client_factory(), idx, scan)
                # one-pass warning observation riding the write job,
                # observed on the parsed wire columns the typed
                # projection reads (raw → wires → observe → typed).
                # The write action must be the FIRST action on this
                # plan — any earlier action (e.g. a sampling count)
                # would satisfy Observation.get with truncated-sample
                # numbers — hence the driver-side rpf sample above.
                obs = Observation(f"warnings-{idx}")
                df = parse_and_coerce(
                    raw,
                    schema,
                    flatten=scan.flatten,
                    multivalue=scan.multivalue,
                    observation=obs,
                )
                if scan.order == "global" and scan.sort:
                    df = df.orderBy(*_sort_columns(scan.sort, df.columns))
                result.indices[idx] = write(
                    df, output_path, idx, sink, rows_per_file_hint=rpf
                )
                result.warnings[idx] = {
                    k: v for k, v in obs.get.items() if isinstance(v, int)
                }
                if attributes:
                    _write_attributes(
                        spark, str(result.indices[idx]), output_path, idx,
                        sink, attributes, all_indices=set(indices),
                    )
            elif sink.output == "stdout":
                result.indices[idx] = write_stdout(raw)
            else:  # jsonl raw
                result.indices[idx] = write(
                    raw, output_path, idx, sink, rows_per_file_hint=rpf
                )
        except Exception as e:  # per-index isolation (reference :87-95)
            logger.error("Exception while processing index %s", idx)
            traceback.print_exc()
            result.errors[idx] = str(e)
            continue

    for line in result.warning_report():
        logger.warning(line)
    return result


def _write_attributes(
    spark,
    written_path: str,
    output_path: str,
    idx: str,
    sink: SinkOptions,
    attributes: tuple[str, str],
    all_indices: set[str] | None = None,
) -> None:
    """Publish the per-document attribute table next to a dumped
    index (see ``dump``'s ``attributes`` parameter).

    Reads the columnar output the dump just WROTE — not the live
    frame, whose lineage would re-execute the entire ES scroll: a
    second scan both doubles source load and can diverge from the
    dumped rows if the index changes between scrolls. Tagging from the
    written files is guaranteed consistent with what shipped, and a
    local parquet/ORC scan is far cheaper than a re-scroll. Raw/text
    outputs (ndjson/csv) don't round-trip types, so the attributes
    step is parquet/ORC-only."""
    import os

    from dump_es_parquet_spark.operators.text import document_attributes

    if sink.output not in ("parquet", "orc"):
        logger.warning(
            "index %s: --attributes requires a columnar output "
            "(parquet/orc), got %s — skipped", idx, sink.output,
        )
        return
    df = getattr(spark.read, sink.output)(written_path)
    id_col, text_col = attributes
    missing = [c for c in (id_col, text_col) if c not in df.columns]
    if missing:
        logger.warning(
            "index %s: --attributes skipped (missing columns %s)", idx, missing
        )
        return
    attrs = document_attributes(
        df.select(id_col, text_col), text_col=text_col, id_col=id_col
    )
    # a REAL index literally named '<idx>_attributes' matched by the
    # same pattern would share this path and whichever is processed
    # last would silently overwrite the other (ADVICE r07) — detect
    # against the expanded index list and suffix until free
    attr_name = f"{idx}_attributes"
    if all_indices and attr_name in all_indices:
        base = attr_name
        while attr_name in all_indices:
            attr_name += "_"
        logger.warning(
            "index %s: attributes path <out>/%s collides with index %s "
            "matched by the same pattern — publishing to <out>/%s instead",
            idx, base, base, attr_name,
        )
    attrs.write.mode("overwrite").parquet(os.path.join(output_path, attr_name))
