"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake behind ``decode_image_stub`` (clearly marked; a real
deployment swaps in PIL/ffmpeg inside the same UDF signature). The
Spark-side plumbing — binary schema, Arrow batch shape, mapInPandas
partitioning, metadata extraction — is real and tested.

The testdata has no binary table, so ``with_binary_payload``
manufactures one from ``documents.text`` (utf-8 encode). At 100 TB the
same plan applies to real parquet ``binary`` columns: mapInPandas
streams Arrow batches per partition — no collect, memory bounded by
batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dump_es_parquet_spark.operators.tables import load

#: fake "decoded image" geometry parameters — deterministic from the
#: payload length so the pipeline is oracle-checkable end-to-end
FAKE_W_MOD, FAKE_H_MOD = 576, 344


def with_binary_payload(d: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary, media_type) — the opaque
    multimodal column + typed metadata pattern."""
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
    )


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side metadata over binary payloads: size, content digest,
    magic-prefix — no Python, full codegen."""
    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
        F.lower(F.hex(F.substring("payload", 1, 8))).alias("magic_hex"),
    ).orderBy("doc_id")


def decode_image_stub(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder — deterministic fake geometry from payload length.

    A real deployment replaces this body with e.g.::

        from PIL import Image
        img = Image.open(io.BytesIO(payload)); return img.width, ...

    (image libs are not available in this container).
    """
    n = len(payload)
    width = 64 + n % FAKE_W_MOD
    height = 64 + n % FAKE_H_MOD
    n_frames = 1 + n % 4
    return width, height, n_frames


DECODE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, n_frames int"
)


def decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal decode pipeline: binary column →
    mapInPandas(stub decode) → typed metadata. The Python stage is
    Arrow-batched; everything before/after stays JVM-side.

    The UDF body is a nested closure so cloudpickle ships it *by
    value* — executors need no importable copy of this package (the
    driver harness may run from any cwd without our PYTHONPATH)."""
    d = with_binary_payload(load(spark, sf_dir, "documents"))
    w_mod, h_mod = FAKE_W_MOD, FAKE_H_MOD

    def _decode(batches):
        import pandas as _pd

        for pdf in batches:
            n = pdf["payload"].map(len)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n,
                    "width": 64 + n % w_mod,
                    "height": 64 + n % h_mod,
                    "n_frames": 1 + n % 4,
                }
            )

    return d.mapInPandas(_decode, DECODE_SCHEMA).orderBy("doc_id")


def frame_sample(spark: SparkSession, sf_dir: str, stride: int = 1000) -> DataFrame:
    """'Frame sampling' over binary payloads: slice fixed-offset chunks
    (as a video frame sampler would) — pure JVM substring over binary,
    exploded to one row per sampled frame."""
    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.floor((F.octet_length("payload") - 1) / stride).cast("int"),
                        F.lit(0),
                    ),
                )
            ).alias("frame_no"),
            F.col("payload"),
        )
        .select(
            "doc_id",
            "frame_no",
            F.lower(
                F.hex(
                    F.expr(f"substring(payload, frame_no * {stride} + 1, 16)")
                )
            ).alias("frame_hex"),
        )
        .orderBy("doc_id", "frame_no")
    )


#: dHash geometry: an 8×9 block-mean grid → 8 rows × 8 horizontal
#: comparisons = 64 sign bits (one ``long`` for the banded hamming join)
DHASH_ROWS, DHASH_COLS = 8, 9


def _make_dhash():
    """Factory for the per-payload dHash so the returned closure is
    ``<locals>``-scoped: cloudpickle ships it BY VALUE inside UDFs —
    executors need no importable copy of this package (the driver
    harness may run from any cwd without our PYTHONPATH)."""

    def dhash_signature(payload) -> int:
        """Pure-numpy dHash (difference hash) over the payload's
        byte-grid — a REAL perceptual hash, replacing the round-7 md5
        stub (VERDICT r07 Next #3).

        The *decode* step stays the documented stub slot: the raw
        bytes are taken as the grayscale intensity sequence (a real
        deployment decodes pixels first; the signature contract —
        ``long`` in, banded hamming downstream — is unchanged). The
        hash construction itself is the standard dHash:

        1. resample the intensity sequence to an 8×9 grid of block
           means (``np.add.reduceat`` over equal-width slices;
           nearest-sample when the payload is shorter than one byte
           per cell),
        2. compare horizontally adjacent cells → 64 sign bits,
        3. pack big-endian into a signed 64-bit integer.

        Perceptual invariances the md5 stub lacked (property-tested in
        tests/test_llm_ops.py): a global brightness shift leaves the
        hash IDENTICAL (constant offsets cancel in the differences),
        and small translations move few sign bits (block means are
        stable), so perturbed payloads land within a small hamming
        radius instead of hashing to unrelated values.
        """
        import numpy as np

        cells_n = 8 * 9  # DHASH_ROWS × DHASH_COLS
        a = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
        n = a.size
        if n == 0:
            return 0
        if n >= cells_n:
            bounds = (np.arange(cells_n) * n) // cells_n
            sums = np.add.reduceat(a, bounds)
            counts = np.diff(np.append(bounds, n))
            cells = sums / counts
        else:
            cells = a[(np.arange(cells_n) * n) // cells_n]
        grid = cells.reshape(8, 9)
        bits = (grid[:, 1:] > grid[:, :-1]).flatten()
        return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)

    return dhash_signature


#: module-level instance for tests / direct callers (same by-value
#: pickling applies if captured in a closure — the qualname is
#: ``_make_dhash.<locals>.dhash_signature``, unresolvable by import)
dhash_signature = _make_dhash()


def phash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, phash): Arrow-batched real dHash over binary payloads
    via ``mapInPandas`` — the decode+hash stage of the multimodal dedup
    path. Memory is bounded by Arrow batch size, never partition size."""
    from .tables import fan_out

    # ship only what the hash reads (guide §4.1 — Spark cannot see
    # which columns an opaque mapInPandas touches), and fan a
    # parallelism-starved scan across the executor width before the
    # Python stage (measured: the 2-partition union ran the whole
    # corpus dHash in 2 tasks); a no-op at scale, so payloads are
    # never shuffled when the scan is already wide
    d = fan_out(d, "doc_id", "payload")
    dhash = _make_dhash()

    def _sig(batches):
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": pdf["payload"].map(dhash)}
            )

    return d.mapInPandas(_sig, "doc_id long, phash long")


def binary_dup_clusters(
    d: DataFrame,
    max_hamming: int = 0,
    bits: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Duplicate-cluster mapping for BINARY payloads: ``(doc_id,
    cluster_id)`` for every row of ``d`` (columns ``doc_id, payload``),
    where ``cluster_id`` is the component minimum over the verified
    dHash-hamming pair graph — the multimodal counterpart of
    ``dedup.near_dup_clusters`` (same transitive min-label machinery,
    same singleton self-labeling), so an image/audio corpus gets the
    same audit/canonicalization surface as text. Pigeonhole: with
    ``bands`` bands any pair within ``max_hamming ≤ bands-1`` is
    found; pairs are exact-hamming verified inside the join."""
    from dump_es_parquet_spark.operators.dedup import (
        _component_min_labels,
        hamming_band_pairs,
    )

    sigs = phash_signatures(d).localCheckpoint(eager=False)
    # cache: _component_min_labels counts the edge set, then either
    # collects it (driver union-find) or iterates it (fixpoint) — an
    # uncached frame would re-execute the banded self-join per access
    # (the same contract the text path's _scoped barrier satisfies)
    pairs = hamming_band_pairs(
        sigs, "phash", bits=bits, bands=bands, max_hamming=max_hamming
    ).select("id_a", "id_b").cache()
    try:
        # labels are file-backed or driver-local once this returns
        labels = _component_min_labels(pairs)
    finally:
        pairs.unpersist()
    # join the labels onto ids ONLY: the payload column is dropped by
    # the select anyway, and keeping it in the join re-builds every
    # payload byte just to discard it (measured 2×0.44 s re-scans in
    # the audit's a/b consumers)
    return d.select("doc_id").join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
    )


#: Planted-clone id shift shared by both audit query forms. The
#: oracle SQL hard-codes the same constant, so it must stay static —
#: ``_checked_clone_offset`` makes a corpus that would collide with it
#: fail LOUDLY instead of corrupting the audits' a/b id-range filters.
CLONE_OFFSET = 1_000_000


def _checked_clone_offset(base: DataFrame) -> int:
    """Assert the corpus' ids fit strictly below :data:`CLONE_OFFSET`
    (ADVICE r08): a doc_id ≥ the offset would silently land in the
    clone id-range and corrupt the planted-pair partition filters.
    The max() is a single-row agg answered from parquet column stats
    — negligible next to the audit's cluster machinery."""
    max_id = base.agg(F.max("doc_id")).first()[0] or 0
    if max_id >= CLONE_OFFSET:
        raise ValueError(
            f"planted-clone audit requires max(doc_id) < {CLONE_OFFSET}, "
            f"got {max_id}: raise CLONE_OFFSET (and the audits' oracle "
            "SQL, which pins the same constant) for this corpus"
        )
    return CLONE_OFFSET


def binary_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query form (oracle-checked): planted-clone audit of
    ``binary_dup_clusters`` — the multimodal counterpart of the text
    path's ``corpus_dup_clusters`` verification row.

    The dHash is lossy and not SQL-expressible, so (exactly like
    ``mm_binary_near_dup``) the oracle checks the PLANTED relation
    instead of the open cluster map: every 50th document is re-ingested
    under a shifted id, and for each planted pair the audit asserts
    both members landed in the SAME cluster (identical payload ⇒
    identical dHash ⇒ hamming 0 ⇒ edge found by pigeonhole) with a
    canonical min-label (cluster_id ≤ the smaller member's id — the
    component minimum cannot exceed any member).  Organic dHash
    collisions may enlarge a component, but they can only LOWER the
    min label, never split the planted pair — both invariants stay
    deterministic."""
    base = load(spark, sf_dir, "documents")
    off = _checked_clone_offset(base)
    clones = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(off)
    )
    d = with_binary_payload(base.unionByName(clones))
    labels = binary_dup_clusters(d, max_hamming=0)
    a = labels.where(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < CLONE_OFFSET)
    ).select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("cl_a")
    )
    b = labels.where(F.col("doc_id") >= CLONE_OFFSET).select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("cl_b")
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + CLONE_OFFSET)
        .select(
            "id_a",
            "id_b",
            (F.col("cl_a") == F.col("cl_b")).cast("int").alias("same_cluster"),
            (F.col("cl_a") <= F.col("id_a")).cast("int").alias("canonical_min"),
        )
        .orderBy("id_a")
    )


def binary_near_dup(spark: SparkSession, sf_dir: str, max_hamming: int = 0) -> DataFrame:
    """Query form (oracle-checked): planted-duplicate recovery over
    BINARY payloads — real dHash signatures (``phash_signatures``) fed
    to the generic banded hamming join (``dedup.hamming_band_pairs``).
    The multimodal dedup plumbing end to end: binary column →
    Arrow-batched perceptual hash → banded candidates → exact hamming
    verify.

    The corpus carries no byte-identical payloads, so (as in the
    snapshot queries' synthetic generation 2) every 50th document is
    re-ingested under a shifted id — the duplicate shape a re-crawled
    image corpus actually produces. Output is one row per planted
    clone pair: ``(id_a, id_b, hamming, recovered)`` where ``hamming``
    is the direct signature distance (identical payloads ⇒ identical
    dHash ⇒ 0) and ``recovered`` flags whether the banded DISCOVERY
    join surfaced the pair — deterministic by pigeonhole, a hamming-0
    pair shares every band. Organic near-dup pairs the discovery join
    also finds are exact-hamming-verified inside ``hamming_band_pairs``
    (precision 1 by construction) but are not oracle-predictable with
    a lossy perceptual hash, so the oracle row checks the planted
    relation exhaustively instead of the open pair set."""
    from dump_es_parquet_spark.operators.dedup import hamming_band_pairs

    base = load(spark, sf_dir, "documents")
    off = _checked_clone_offset(base)
    clones = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(off)
    )
    d = with_binary_payload(base.unionByName(clones))
    # lineage cut: sigs feeds both sides of the banded self-join AND
    # the planted a/b joins — without the barrier the Arrow-batched
    # Python dHash would re-run up to 4x per payload (the same
    # materialize-once pattern dedup's signature builders use)
    sigs = phash_signatures(d).localCheckpoint(eager=False)
    pairs = hamming_band_pairs(sigs, "phash", bits=64, bands=8,
                               max_hamming=max_hamming)
    a, b = sigs.alias("a"), sigs.alias("b")
    planted = (
        a.where((F.col("a.doc_id") % 50 == 0) & (F.col("a.doc_id") < CLONE_OFFSET))
        .join(b, F.col("b.doc_id") == F.col("a.doc_id") + CLONE_OFFSET)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
    )
    return (
        planted.join(
            pairs.select("id_a", "id_b", F.lit(1).alias("recovered")),
            ["id_a", "id_b"],
            "left",
        )
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.coalesce("recovered", F.lit(0)).alias("recovered"),
        )
        .orderBy("id_a")
    )
