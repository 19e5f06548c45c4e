"""Keyless point-in-interval (range) joins that scale.

The reference defers all joins to downstream engines (its README's
endgame is DuckDB, ``dump-es-parquet README.md:99-103``); DuckDB gets
keyless range predicates for free via IEJoin. Open-source Spark does
NOT: a join whose only condition is ``lo <= p AND p < hi`` has no
equi-key, so Catalyst plans BroadcastNestedLoopJoin — O(|points| x
|ranges|) comparisons, the canonical 100 TB cliff for IP-to-geo
lookups, value-band classification, and point-in-maintenance-window
joins.

``bin_range_join`` restores an equi-key by quantizing the axis into
fixed-width bins:

- each POINT lands in exactly ONE bin (``floor(p / w)``) — the big
  fact side is never duplicated;
- each RANGE explodes into the bins it covers
  (``sequence(floor(lo/w), floor(hi/w))`` — at most
  ``(hi-lo)/w + 2`` rows), so only the small dim side pays expansion;
- the bins equi-join (hash or, when the exploded dim fits,
  **broadcast** — in which case the 100 TB point side is never even
  shuffled), and the exact predicate re-checks inside the join so the
  one boundary-overshoot bin per range is filtered.

Every (point, range) match meets in exactly one bin — the point's —
so the output needs no dedup. This is the published "binned/bucketed
range join" pattern (e.g. Databricks' range-join hint, absent from
OSS Spark) re-expressed with plain DataFrame ops.

Choosing ``bin_width``: ~the median range width. Much smaller wastes
dim-side explosion rows; much larger piles unrelated ranges into each
bin and shifts work to the residual predicate. Both failure modes
degrade gracefully (correctness never depends on ``w``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CLOSED = {
    "left": lambda p, lo, hi: (p >= lo) & (p < hi),
    "right": lambda p, lo, hi: (p > lo) & (p <= hi),
    "both": lambda p, lo, hi: (p >= lo) & (p <= hi),
    "neither": lambda p, lo, hi: (p > lo) & (p < hi),
}

_BIN = "__range_bin"


def bin_range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    *,
    bin_width: float,
    closed: str = "left",
    broadcast_ranges: bool = True,
) -> DataFrame:
    """Inner-join ``points`` to every row of ``ranges`` whose
    ``[lo_col, hi_col)`` interval contains ``point_col``, on a binned
    equi-key instead of a nested loop.

    Column names must be disjoint between the two frames (standard
    Spark join hygiene). ``broadcast_ranges=True`` (default) hints the
    exploded dim side — the usual shape is a huge fact table against
    thousands of ranges, where broadcast means ZERO shuffle of the
    fact side; set False to let AQE decide for big-against-big.
    """
    if closed not in _CLOSED:
        raise ValueError(f"closed must be one of {sorted(_CLOSED)}")
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    w = F.lit(float(bin_width))
    pb = points.withColumn(_BIN, F.floor(F.col(point_col) / w))
    rb = ranges.withColumn(
        _BIN,
        F.explode(
            F.sequence(F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w))
        ),
    )
    if broadcast_ranges:
        rb = F.broadcast(rb)
    pred = _CLOSED[closed](F.col(point_col), F.col(lo_col), F.col(hi_col))
    return pb.join(rb, on=_BIN).where(pred).drop(_BIN)


# ---------------------------------------------------------------------------
# declared-surface demo: irregular value bands over the events stream
# ---------------------------------------------------------------------------


def value_band_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each event's ``value`` into quadratically-growing
    bands ``[i^2, (i+1)^2)`` — deliberately IRREGULAR widths, so the
    join is a true range lookup (a uniform-width banding would reduce
    to ``floor(value/w)`` and prove nothing). Aggregates per band.

    Plan shape to verify at scale: one scan of events (never
    duplicated), the 23-row band dim exploded to ~70 bin rows and
    broadcast, one hash aggregate. No BNLJ anywhere.
    """
    from dump_es_parquet_spark.operators.tables import load

    ev = load(spark, sf_dir, "events")
    bands = spark.range(23).select(
        F.col("id").alias("band_id"),
        (F.col("id") * F.col("id")).alias("lo"),
        ((F.col("id") + 1) * (F.col("id") + 1)).alias("hi"),
    )
    joined = bin_range_join(
        ev, bands, "value", "lo", "hi", bin_width=8.0, closed="left"
    )
    return (
        joined.groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("band_id")
    )
