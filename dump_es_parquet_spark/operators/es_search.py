"""ES ``_search`` request compiler: query DSL → Catalyst ``Column``,
aggregations DSL → one-shuffle ROLLUP plan.

The reference dumps an index to parquet and stops; every saved
``_search`` request its users run today silently dies with the
cluster. This module makes those requests run against the lake
(PARITY #19 family, like BM25): ``compile_query`` turns the query
JSON into a boolean ``Column`` (NULL-exact ES semantics), and
``compile_aggs`` turns a nested aggregation tree into ONE
``rollup`` shuffle whose grouping-set prefixes ARE the bucket
levels, followed by per-level ``size`` / ``min_doc_count`` pruning
over the (tiny, post-aggregate) bucket frame.

Query DSL (``compile_query``):

- ``match_all``, ``term``, ``terms``, ``range`` (gt/gte/lt/lte),
  ``exists``, ``prefix``, ``wildcard`` (``*``/``?`` → LIKE, with
  LIKE-metachar escaping), ``regexp`` (implicitly anchored, as ES
  anchors it), ``match`` (whitespace-analyzed OR — or AND with
  ``"operator": "and"``), ``match_phrase`` (token-boundary regexp),
  ``bool`` with must/filter/should/must_not and
  ``minimum_should_match``, the geo pair (``geo_bounding_box`` /
  ``geo_distance`` — round 10), and ``nested`` (round 11:
  ``exists(path, x -> inner)`` — same-object semantics over
  array-mode columns).
- NULL-exactness: ES ``must_not`` matches docs where the field is
  MISSING; Spark's ``~(col == v)`` is NULL there and would drop the
  row. Every negated / counted clause therefore goes through
  ``coalesce(c, false)`` first, so missing-field behavior matches ES
  exactly (see tests/test_es_search.py).

Aggregations DSL (``compile_aggs``):

- bucket aggs: ``terms`` (size, order ``_count``/``_key``/metric,
  min_doc_count, ``missing`` substitute bucket, ``include``/
  ``exclude`` value lists or anchored regex applied BEFORE ranking —
  round 12), ``multi_terms``
  (composite '|'-joined key over several fields, docs missing ANY
  component dropped per ES; same size/order/min_doc_count knobs as
  terms — round 12), ``rare_terms`` (terms kept when their doc_count
  is AT MOST ``max_doc_count`` — a ceiling instead of a rank cap;
  exact, where ES's CuckooFilter is approximate — round 12),
  ``date_histogram``
  (calendar_interval / fixed_interval, signed ``offset`` on fixed
  grids, ``time_zone`` as a fixed ±HH:MM offset — round 12 — or an
  IANA tzdb name — round 13, local-boundary buckets with 23/25-hour
  DST days — ``min_doc_count: 0`` +
  ``extended_bounds`` gap-filling; bucket key = epoch millis,
  exactly the key ES returns), ``histogram`` (interval + offset),
  ``categorize_text`` (round 14: token-skeleton log categorization,
  digit-bearing tokens wildcarded — PARITY #26),
  ``range`` /
  ``date_range`` (keyed, from-inclusive / to-exclusive; date bounds
  are epoch-millis ints), ``filter`` (ONE bucket holding a full
  query-DSL body) and ``missing`` (docs lacking the field),
  ``filters`` (round 12: at ANY chain depth — a doc can land in
  several buckets, compiled as build-matching-names array → explode,
  fan-out bounded by the filter count; non-root levels protect
  ancestor counts via the multi-membership machinery), ``nested``
  (round 12: at ANY chain depth —
  one posexplode_outer re-bases rows onto objects while ancestor
  levels keep parent-DOC counts/metrics via a representative-row
  mask; ``reverse_nested`` re-bases a bucket's doc_count onto
  distinct parents), and the
  map-dashboard grids ``geohash_grid`` / ``geotile_grid`` (round 11:
  pure bit-interleave / Web-Mercator projections).
- metric aggs: ``avg`` / ``sum`` (through DECIMAL(18,6) so partial-
  agg order can't flip float bits — house convention), ``min`` /
  ``max``, ``value_count``, ``cardinality`` (EXACT count_distinct;
  ES's is approximate-HLL — the mergeable-sketch variant lives in
  operators/profile.py, this surface favors oracle-exactness),
  ``percentiles`` (exact linear-interpolation ``F.percentile`` ≡
  DuckDB ``quantile_cont``, rounded to 6dp), ``stats`` (count/min/
  max/sum/avg expansion), ``weighted_avg`` (Σ(v·w)/Σw, exact decimal
  sums, NULL-masked per ES), ``geo_centroid`` (exact-decimal mean
  pair), ``top_metrics`` (the metric at the bucket's top-sorted doc;
  lexicographic struct max/min pins sort ties to the metric value in
  both engines), ``boxplot`` (exact quartiles), ``rate`` (round 13 —
  total / the bucket's ACTUAL length in ``unit``: calendar months
  divide by their real day count; fixed offsets only), and
  ``median_absolute_deviation`` (round 13 — EXACT
  median(|x − median|) from one let-bound sorted collect, where ES
  runs t-digest). Each metric is reported at the level it
  is attached to (NULL elsewhere), like the ES response tree.
- ``top_hits`` compiles to a per-bucket ``row_number`` window. As the
  innermost agg of the chain (the common "N example docs per bucket"
  shape) the result is the doc-shaped frame; under a NON-LEAF bucket
  (round 14 — "the docs AND the sub-buckets") the result is the
  regular bucket frame UNIONED with rank-bearing doc rows at the
  carrying level. One top_hits section per chain.
- pipeline aggs: ``cumulative_sum``, ``derivative``, ``bucket_script``,
  ``moving_fn`` (``MovingFunctions.{max,min,sum,unweightedAvg,
  stdDev,linearWeightedAvg,ewma,holt}`` — round 13 widened, round 14
  adds ``holt(values, alpha, beta)``; trailing window including the
  current bucket, no ``shift``, custom Painless a documented bound),
  ``serial_diff`` (lag-n difference), ``moving_percentiles``
  (round 13 — the exact union-of-raw-values reading of ES's merged
  window digests: hidden per-bucket value arrays ride the rollup,
  one flatten+sort window, quantile_cont interpolation per percent;
  deferred past gap-fill like the other positional pipelines),
  sibling ``*_bucket`` summaries
  (max/min/avg/sum + the 5-column ``stats_bucket``; round 13 —
  ``extended_stats_bucket`` through the moment discipline and exact
  ``percentiles_bucket``),
  and ``bucket_sort`` (from/size truncation ordered by ``_key`` /
  ``_count`` / a sibling metric or pipeline column — applied after the
  other pipelines, descendants of truncated buckets dropped),
  ``bucket_selector`` (round 12 — the HAVING clause: a script over
  buckets_path columns prunes this level's buckets and their
  descendants, evaluated after the other pipelines and before
  bucket_sort; round 13 ADVICE — under the default gap_policy
  'skip' a bucket whose buckets_path value is NULL is RETAINED
  without evaluating the script, ES's BucketSelectorPipelineAggregator
  behavior), and ``normalize`` (round 12 — rescale_0_1 /
  rescale_0_100 / percent_of_sum; round 13 — mean, z-score and
  softmax, completing ES's method list —
  windows over the level's buckets at 6dp). All are
  level-masked windows over the compact bucket frame. Dedicated
  root paths in ``search_aggs`` (round 13): terms >
  significant_terms, sampler/diversified_sampler (explicit-sort
  deterministic sample), terms > string_stats with entropy or
  show_distribution (per-(bucket, char) probability rows), and
  ``global`` (the query-IGNORING scope — the sub-tree compiles over
  the unfiltered frame). Standalone round-13 functions: the
  join-field family (``has_child_filter`` / ``has_parent_filter`` /
  ``children_aggs`` — ES parent/child semantics over the two-table
  lake split) and ``frequent_item_sets`` (exact apriori over basket
  arrays; ES's sampled-eclat closed-itemset agg).

Scale shape: ONE scan and ONE data-sized shuffle produce every
level at once (``rollup`` grouping sets share the Expand; an exact
``cardinality`` metric adds the unavoidable second distinct-agg
exchange), and ALL post-processing stays in the same single branch
as level-masked windows over the compact bucket frame: per-parent
top-``size`` ranks partition by ``(level, parent prefix)``, and
ancestor survival propagates to descendants through a ``max`` window
over the shared key prefix — no per-level frames, no semi-joins, no
union. The naive per-level formulation (filter ``level == i`` per
branch) is actively pessimal: Catalyst pushes each level filter
below the Expand and specializes every branch into its OWN full
scan (3 scans / 14 exchanges for a 2-level tree, measured; the
window form is 1 scan / 2 data-sized exchanges). Spark plans
WindowGroupLimit for the rank caps, so top-``size`` prunes before
the bucket-frame shuffles too. date_histogram gap-filling
(``min_doc_count: 0`` + ``extended_bounds``) synthesizes empty
buckets with one explode over the bucket frame — fixed-width grids
by long arithmetic, month/quarter/year by INTERVAL-n-MONTH
sequences (round 11); positional pipelines (moving_fn/serial_diff)
and bucket_sort at a gap level run AFTER the fill so empty buckets
occupy window positions/ranks like ES's min_doc_count-0 response
(round 12, PARITY #20).

``composite_agg`` implements the composite/after-key pagination:
the after-key filter is a struct comparison applied BEFORE the
groupBy (exactly ES's early-termination shape: later pages never
re-aggregate earlier key ranges).

Round 16 widens the dialect: ``combined_fields`` (term-centric
multi-field match, PARITY #37), ``rank_feature`` /
``distance_feature`` (exists() filter reductions, #37),
``intervals`` (ordered max_gaps match over once-bound position
arrays + prefix/wildcard/any_of leaves, #39), the ``terms`` LOOKUP
form (``resolve_terms_lookups`` — fetch-and-rewrite via the
``lookups=`` kwarg, #38), the ``ip_prefix`` bucket agg (subnet
rollup over the CIDR octet tree, #34), and ``random_sampler``
(deterministic portable-hash sample, 1/p-scaled doc_count, #35).

Reference: the ES search API the dump loses (dump-es-parquet:222
fetches with a query but exposes no agg/search surface post-dump).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .tables import _scan_splits_at_least, fan_out, load, one_slice_frame

__all__ = [
    "compile_query",
    "compile_aggs",
    "composite_agg",
    "percolate",
    "percolate_bulk",
    "queries_to_conjuncts",
    "search",
    "search_aggs",
    "streamable_aggs",
]

_BUCKET_KINDS = (
    "terms",
    "multi_terms",
    "rare_terms",
    "date_histogram",
    "histogram",
    "range",
    "date_range",
    "ip_range",
    "ip_prefix",
    "filters",
    "filter",
    "adjacency_matrix",
    "missing",
    "geohash_grid",
    "geotile_grid",
    "geo_distance",
    "nested",
    "auto_date_histogram",
    "categorize_text",
)
_METRIC_KINDS = (
    "avg",
    "sum",
    "min",
    "max",
    "value_count",
    "cardinality",
    "percentiles",
    "percentile_ranks",
    "boxplot",
    "rate",
    "median_absolute_deviation",
    "stats",
    "weighted_avg",
    "top_metrics",
    "extended_stats",
    "geo_centroid",
    "geo_bounds",
    "string_stats",
    "matrix_stats",
    "reverse_nested",
    "_literal",
)
# parent pipeline aggs run ACROSS a bucket agg's key-ordered bucket
# sequence (windows over the compact bucket frame); sibling *_bucket
# aggs summarize a child bucket's metric onto the parent's rows;
# bucket_sort is parsed separately (it PRUNES rather than adds a
# column — see compile_aggs' second survival pass)
_PIPELINE_PARENT = (
    "cumulative_sum",
    "derivative",
    "bucket_script",
    "moving_fn",
    "serial_diff",
    "normalize",
    "moving_percentiles",
)

#: the ES `normalize` pipeline's rescale methods expressible as pure
#: arithmetic over the level partition's min/max/sum windows (round
#: 12); z-score/softmax involve std/exp trees left out of the oracle
#: contract — they raise.
_NORMALIZE_METHODS = (
    "rescale_0_1",
    "rescale_0_100",
    "percent_of_sum",
    "mean",
    "z-score",
    "softmax",
)
# the MovingFunctions.* subset that maps onto exact SQL window
# aggregates (sum/avg accumulate through DECIMAL so they are
# association-free across engines). ES returns 0.0 (sum) / NaN
# (unweightedAvg) over an EMPTY window; here an empty window is NULL
# — the SQL window convention both engines share.
_MOVING_FNS = ("max", "min", "sum", "unweightedAvg", "linearWeightedAvg")
_PIPELINE_SIBLING = (
    "max_bucket",
    "min_bucket",
    "avg_bucket",
    "sum_bucket",
    "stats_bucket",
    "extended_stats_bucket",
    "percentiles_bucket",
)
_SIBLING_FN = {
    "max_bucket": F.max,
    "min_bucket": F.min,
    "avg_bucket": F.avg,
    "sum_bucket": F.sum,
}

_CALENDAR_UNITS = {
    "second": "second",
    "1s": "second",
    "minute": "minute",
    "1m": "minute",
    "hour": "hour",
    "1h": "hour",
    "day": "day",
    "1d": "day",
    "week": "week",
    "1w": "week",
    "month": "month",
    "1M": "month",
    "quarter": "quarter",
    "1q": "quarter",
    "year": "year",
    "1y": "year",
}

_FIXED_UNIT_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}

# fixed widths (UTC session timezone — the house convention) for the
# calendar units whose date_histogram gap grid is pure long
# arithmetic; month/quarter/year step by months instead (round 11,
# _MONTH_UNITS). week's grid is offset from the epoch (a Thursday)
# to Monday, matching date_trunc('week').
_CALENDAR_WIDTH_MS = {
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}
_WEEK_EPOCH_OFFSET_MS = 4 * 86_400_000  # epoch Thursday → Monday grid


#: calendar units with no fixed millisecond width — their gap grid
#: steps in MONTHS (date arithmetic), round 11 (VERDICT r10 Next #5)
_MONTH_UNITS = {"month": 1, "quarter": 3, "year": 12}


def _tz_parse(tz: str):
    """ES ``time_zone`` → ``("fixed", offset_ms)`` for ±HH:MM / UTC,
    ``("iana", name)`` for tzdb-named zones (round 13, VERDICT r12
    Next #1 — Kibana sends the browser's IANA zone on essentially
    every date_histogram).  Fixed offsets beyond ±18:00 raise like
    ES/java.time does (round-13 ADVICE); names are validated against
    the local tzdb so a typo'd zone fails loudly, not as a nonsense
    grid."""
    if tz in ("UTC", "Z", "+00:00", "-00:00"):
        return "fixed", 0
    m = re.fullmatch(r"([+-])(\d{2}):(\d{2})", tz)
    if m:
        h, mi = int(m.group(2)), int(m.group(3))
        if h > 18 or mi > 59 or (h == 18 and mi > 0):
            raise ValueError(
                f"time_zone {tz!r}: fixed offsets must lie in "
                "[-18:00, +18:00] (java.time rule ES follows)"
            )
        sign = 1 if m.group(1) == "+" else -1
        return "fixed", sign * (h * 3_600_000 + mi * 60_000)
    try:
        import zoneinfo

        zoneinfo.ZoneInfo(tz)
    except Exception:
        raise ValueError(
            f"time_zone {tz!r}: not a fixed ±HH:MM offset and not a "
            "known IANA zone name"
        ) from None
    return "iana", tz


import functools


@functools.lru_cache(maxsize=256)
def _tz_offset_phases_ms(tz: str, width: int) -> frozenset[int]:
    """The set of ``offset mod width`` phases a zone uses across
    1970–2100, sampled twice a month (finer than any real-world
    transition cadence). One driver-side pass over ~3k zoneinfo
    lookups — plan-time only."""
    import datetime as _dt
    import zoneinfo

    z = zoneinfo.ZoneInfo(tz)
    phases: set[int] = set()
    for year in range(1970, 2101):
        for month in range(1, 13):
            for day in (1, 15):
                t = _dt.datetime(
                    year, month, day, tzinfo=_dt.timezone.utc
                )
                off = z.utcoffset(t)
                phases.add(
                    int(off.total_seconds() * 1000) % width
                )
    return frozenset(phases)


def _dh_grid(body: dict):
    """The tiling spec of a date_histogram's bucket grid — what
    gap-filling steps by. ``("fixed", step_ms, grid_offset_ms)`` for
    fixed-width grids, ``("months", n, unit, tz_off_ms)`` for the
    variable-width calendar units (month/quarter/year), whose grid
    is enumerable by INTERVAL-n-MONTH timestamp sequences even
    without a fixed width. ``time_zone`` (round 12) shifts the grid
    anchor: a bucket key k satisfies (k + tz_off) ≡ unit boundary."""
    if "fixed_interval" in body:
        off = _offset_ms(body["offset"]) if "offset" in body else 0
        return "fixed", _fixed_ms(body["fixed_interval"]), off
    unit = _CALENDAR_UNITS[body["calendar_interval"]]
    tzk, tzv = (
        _tz_parse(body["time_zone"]) if "time_zone" in body else ("fixed", 0)
    )
    if tzk == "iana":
        # IANA zone (round 13): DST makes day/week widths variable
        # in instant space — the grid is enumerable only in LOCAL
        # wall time, stepped by calendar intervals and mapped back
        # per-boundary. Sub-day units keep fixed instant widths;
        # their keys stay on ONE epoch grid iff every UTC offset the
        # zone ever uses is CONGRUENT mod the unit width (true for
        # hour buckets in every whole-hour-shift zone — the Kibana
        # hourly series — and for minute/second everywhere, offsets
        # being whole minutes): then the grid is plain fixed
        # arithmetic with the shared phase. Zones with sub-unit DST
        # shifts (e.g. Australia/Lord_Howe's 30-minute jump under
        # hour buckets) leave the grid and raise (PARITY #20).
        if unit not in ("day", "week") and unit not in _MONTH_UNITS:
            width = _CALENDAR_WIDTH_MS[unit]
            phases = _tz_offset_phases_ms(tzv, width)
            if len(phases) > 1:
                raise ValueError(
                    f"date_histogram gap-fill with calendar_interval "
                    f"{unit!r} under time_zone {tzv!r} is not "
                    "supported — the zone's DST shift is not a "
                    f"multiple of the {unit} width, so bucket keys "
                    "leave any single epoch grid (PARITY #20)"
                )
            return "fixed", width, (-next(iter(phases))) % width
        return "local", unit, tzv
    tz_off = tzv
    if unit in _MONTH_UNITS:
        return "months", _MONTH_UNITS[unit], unit, tz_off
    off = _WEEK_EPOCH_OFFSET_MS if unit == "week" else 0
    width = _CALENDAR_WIDTH_MS[unit]
    return "fixed", width, (off - tz_off) % width


# ---------------------------------------------------------------------------
# query DSL
# ---------------------------------------------------------------------------


def _like_escape(s: str) -> str:
    """Escape LIKE metacharacters so only OUR ``*``/``?`` translate."""
    return s.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")


def _false_safe(c: Column) -> Column:
    """Three-valued → two-valued: NULL (missing field) counts as
    no-match, which is what ES's filter context does."""
    return F.coalesce(c, F.lit(False))


#: dotted-quad / CIDR literals (round 15, VERDICT r14 Next #6): the
#: dump carries ES ``ip`` fields as strings (schema.py's type table),
#: so ip semantics key off the VALUE shape — unambiguous for CIDR
#: masks and dotted-quad range bounds. IPv6 raises loudly (the
#: documented bound: 128-bit math has no exact long tree).
_IPV4_RE = re.compile(r"^\d{1,3}(?:\.\d{1,3}){3}$")
_CIDR_RE = re.compile(r"^\d{1,3}(?:\.\d{1,3}){3}/\d{1,2}$")


def _is_cidr_like(v: str) -> bool:
    """True when a '/'-bearing term value should take the CIDR
    reading: a valid IPv4 mask, OR an address-shaped string (hex
    groups with ':' — IPv6, which then raises loudly inside
    ``_cidr_bounds``). A path-like term ('foo/bar') stays plain
    string equality — terms on keyword fields legitimately contain
    slashes (round-15 self-review)."""
    if "/" not in v:
        return False
    if _CIDR_RE.match(v):
        # the regex is shape-only (\d{1,3} octets, \d{1,2} prefix) —
        # enforce the VALUE ranges here so '300.1.1.1/8' or
        # '1.2.3.4/99' stays plain string equality (the docstring's
        # contract) instead of raising inside _cidr_bounds
        addr, _, plen = v.partition("/")
        return (
            int(plen) <= 32
            and all(int(p) <= 255 for p in addr.split("."))
        )
    addr = v.split("/", 1)[0]
    return (
        ":" in addr
        and re.fullmatch(r"[0-9A-Fa-f:.]+", addr) is not None
        and v.split("/", 1)[1].isdigit()
    )


def _ip_to_long(s: str) -> int:
    """Driver-side dotted-quad → unsigned-32 long; octet-validated."""
    if ":" in s:
        raise ValueError(f"IPv6 address {s!r} is not supported")
    parts = s.split(".")
    if len(parts) != 4 or any(
        not p.isdigit() or int(p) > 255 for p in parts
    ):
        raise ValueError(f"bad IPv4 literal {s!r}")
    a, b, c, d = (int(p) for p in parts)
    return (a << 24) | (b << 16) | (c << 8) | d


def _cidr_bounds(mask: str) -> tuple[int, int]:
    """CIDR → [lo, hi) long band; the network base is the address
    with the host bits cleared (ES accepts a non-base address and
    masks it, e.g. ``10.0.0.7/8`` → the 10/8 network)."""
    addr, _, plen = mask.partition("/")
    p = int(plen)
    if not (0 <= p <= 32):
        raise ValueError(f"CIDR prefix length {p} out of range: {mask!r}")
    width = 1 << (32 - p)
    lo = (_ip_to_long(addr) // width) * width
    return lo, lo + width


def _ip_col_to_long(col: Column) -> Column:
    """Dotted-quad string column → long, as a plain expression tree
    (octet split, spelled identically in the DuckDB oracle); a
    malformed or NULL value yields NULL, which every consumer treats
    as no-match / no-bucket. Validity is part of the tree (round-15
    self-review): without the shape+range guard, ``1.2.3.4.5`` would
    silently parse as 1.2.3.4 and ``300.1.1.1`` would overflow into a
    WRONG band instead of matching nothing.

    The split is BOUND ONCE through a singleton ``transform`` lambda
    (round 16 — the span_near binding discipline): the naive form
    re-ran ``split`` under every ``F.get``/guard reference (9 copies
    per evaluation — codegen subexpression elimination does not reach
    across the conditional), measured ~5× slower on the bench's
    ip rows."""

    def _fold(parts):
        # F.get + try_cast: an out-of-bounds part or malformed octet
        # yields NULL even under ANSI mode (getItem would throw if
        # the optimizer reorders the guard's conjuncts); the shape
        # check is STRUCTURAL (exactly 4 dot-parts, each a long in
        # [0, 255]) rather than a per-row regex — same verdict
        # without a regex engine in the scan's hot loop
        octs = [F.get(parts, i).try_cast("long") for i in range(4)]
        ok = F.size(parts) == F.lit(4)
        for o in octs:
            ok = ok & o.isNotNull() & (o >= F.lit(0)) & (o <= F.lit(255))
        return F.when(
            ok,
            octs[0] * F.lit(16777216) + octs[1] * F.lit(65536)
            + octs[2] * F.lit(256) + octs[3],
        )

    return F.element_at(
        F.transform(F.array(F.split(col, r"\.")), _fold), 1
    )


#: IPv6 (round 17, VERDICT r16 Next #5): hex-group text, ``::``
#: compression allowed; the dotted-tail v4-mapped form is NOT
#: modeled (a '.'-bearing value takes the v4 tree or no-match).
_IPV6_RE = re.compile(r"^[0-9A-Fa-f:]*:[0-9A-Fa-f:]*$")
_BIAS64 = 1 << 63


def _is_ipv6_like(v: str) -> bool:
    """True when a term/range value should take the IPv6 reading:
    hex groups joined by ':' (optionally ``/prefix`` for masks)."""
    addr, slash, plen = v.partition("/")
    if slash and not plen.isdigit():
        return False
    return ":" in addr and _IPV6_RE.match(addr) is not None


def _ip6_literal(s: str) -> tuple[int, int]:
    """IPv6 text → biased (hi, lo) signed-long pair. The 128-bit
    value splits into two unsigned 64-bit halves; each is stored
    biased by -2^63 so SIGNED long comparisons preserve unsigned
    order (the hi/lo two-long decomposition, PARITY #30)."""
    import ipaddress

    try:
        v = int(ipaddress.IPv6Address(s))
    except (ipaddress.AddressValueError, ValueError) as exc:
        raise ValueError(f"bad IPv6 literal {s!r}: {exc}") from None
    return (v >> 64) - _BIAS64, (v & ((1 << 64) - 1)) - _BIAS64


def _ip6_cidr_parts(mask: str) -> tuple[int, int, int]:
    """IPv6 CIDR → ``(prefix_len, hi_biased, lo_biased)`` of the
    network base (host bits cleared, the ES non-strict reading)."""
    import ipaddress

    addr, _, plen = mask.partition("/")
    p = int(plen)
    if not (0 <= p <= 128):
        raise ValueError(
            f"IPv6 prefix length {p} out of range: {mask!r}"
        )
    try:
        net = ipaddress.ip_network(f"{addr}/{p}", strict=False)
    except ValueError as exc:
        raise ValueError(f"bad IPv6 mask {mask!r}: {exc}") from None
    base = int(net.network_address)
    return p, (base >> 64) - _BIAS64, (base & ((1 << 64) - 1)) - _BIAS64


def _ip6_col_hi_lo(col: Column) -> Column:
    """IPv6 string column → ``struct<hi long, lo long>`` (biased as
    in ``_ip6_literal``); NULL for anything that isn't valid
    hex-group IPv6 text (including v4 dotted quads — the mixed-
    column contract: each family's tree ignores the other's
    values). Handles ``::`` compression structurally: split on
    '::', pad the middle with zero groups. Every intermediate array
    is BOUND ONCE (the singleton-transform CSE discipline). No
    lower() copy: ``conv`` is case-insensitive and the one charset
    regex carries ``(?i)``."""
    s = col

    def _join(lr):
        l, r = lr["l"], lr["r"]
        pad = F.array_repeat(
            F.lit("0"), F.lit(8) - F.size(l) - F.size(r)
        )
        # '::' must stand for >= 1 zero group (an 8-group address
        # with '::' is invalid)
        return F.when(
            (F.size(l) + F.size(r)) <= F.lit(7), F.concat(l, pad, r)
        )

    def _hexts(p2):
        two = F.element_at(F.transform(F.array(F.struct(
            F.filter(
                F.split(F.get(p2, 0), ":", -1),
                lambda x: x != F.lit(""),
            ).alias("l"),
            F.filter(
                F.split(F.get(p2, 1), ":", -1),
                lambda x: x != F.lit(""),
            ).alias("r"),
        )), _join), 1)
        return (
            F.when(F.size(p2) == F.lit(1), F.split(s, ":", -1))
            .when(F.size(p2) == F.lit(2), two)
        )

    def _fold(hx):
        # charset is checked ONCE on the whole string (below);
        # per-hextet validity reduces to a length check — a regex
        # per group measured ~2.5x on the row's scan
        ok = (F.size(hx) == F.lit(8)) & F.forall(
            hx,
            lambda x: (F.length(x) >= F.lit(1))
            & (F.length(x) <= F.lit(4)),
        )
        hs = [
            F.conv(F.get(hx, i), 16, 10).try_cast("long")
            for i in range(8)
        ]
        hi = (
            (hs[0] - F.lit(32768)) * F.lit(1 << 48)
            + hs[1] * F.lit(1 << 32) + hs[2] * F.lit(1 << 16) + hs[3]
        )
        lo = (
            (hs[4] - F.lit(32768)) * F.lit(1 << 48)
            + hs[5] * F.lit(1 << 32) + hs[6] * F.lit(1 << 16) + hs[7]
        )
        return F.when(ok, F.struct(hi.alias("hi"), lo.alias("lo")))

    hexts = F.element_at(
        F.transform(F.array(F.split(s, "::", -1)), _hexts), 1
    )
    return F.when(
        s.rlike("(?i)^[0-9a-f:]+$"),
        F.element_at(F.transform(F.array(hexts), _fold), 1),
    )


def _ip6_band_expr(col: Column, mask: str) -> Column:
    """Column membership in an IPv6 CIDR band, via the /64 split
    reading (PARITY #30): prefix ≤ 64 constrains ONLY the hi long
    (one closed band — no 128-bit compare needed); prefix > 64 pins
    hi exactly and bands the lo long. Bounds are inclusive-closed so
    the unsigned-top edge never overflows the biased signed space."""
    p, hi_b, lo_b = _ip6_cidr_parts(mask)
    hl = _ip6_col_hi_lo(col)
    pair = F.array(hl)

    def _check(h):
        if p == 0:
            return h.isNotNull()
        if p <= 64:
            hi_max = hi_b + (1 << (64 - p)) - 1
            return (h["hi"] >= F.lit(hi_b)) & (h["hi"] <= F.lit(hi_max))
        lo_max = lo_b + (1 << (128 - p)) - 1
        return (
            (h["hi"] == F.lit(hi_b))
            & (h["lo"] >= F.lit(lo_b))
            & (h["lo"] <= F.lit(lo_max))
        )

    return F.element_at(F.transform(pair, _check), 1)


def _date_range_entry_normalized(r: dict) -> dict:
    """One ``date_range`` entry → epoch-millis int bounds. Ints pass
    through; ISO-8601 strings parse as UTC when naive (the session
    zone); ``now``-relative date math raises — a replayed request
    must pin its instants (the sampler's determinism class)."""
    import datetime as _dt

    out = dict(r)
    for bk in ("from", "to"):
        v = r.get(bk)
        if v is None or isinstance(v, int):
            continue
        s = str(v)
        if "now" in s:
            raise ValueError(
                "date_range 'now' math has no deterministic lake "
                "reading — pin the instant"
            )
        try:
            d = _dt.datetime.fromisoformat(s)
        except ValueError as e:
            raise ValueError(
                f"date_range bound {s!r}: epoch millis int or "
                "ISO-8601 string"
            ) from e
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        out[bk] = int(d.timestamp() * 1000)
    if "key" not in r and any(
        isinstance(r.get(bk), str) for bk in ("from", "to")
    ):
        out["key"] = f"{r.get('from', '*')}-{r.get('to', '*')}"
    return out


def _ip_ranges_normalized(ranges: list[dict]) -> list[dict]:
    """``ip_range`` agg ranges → numeric long from/to with the ES
    response key: a ``mask`` entry expands to its CIDR band keyed by
    the mask string; from/to ip strings convert to longs keyed
    ``from-to`` with ``*`` for an open end (the range-agg default
    shape). Normalizing ONCE lets the whole range-family machinery
    (overlap detection, CASE chain, multi-membership explode) run
    on plain numbers."""
    out = []
    for r in ranges:
        if "mask" in r:
            if set(r) - {"mask", "key"}:
                raise ValueError(
                    "ip_range: a mask entry cannot also carry from/to"
                )
            lo, hi = _cidr_bounds(r["mask"])
            out.append({
                "from": lo, "to": hi, "key": r.get("key", r["mask"]),
            })
            continue
        n: dict = {}
        for bk in ("from", "to"):
            if bk in r and r[bk] is not None:
                n[bk] = _ip_to_long(str(r[bk]))
        n["key"] = r.get(
            "key", f"{r.get('from', '*')}-{r.get('to', '*')}"
        )
        out.append(n)
    return out


def _scoped_col(field: str, scope) -> Column:
    """Resolve a field reference: top level → ``F.col``; inside a
    ``nested`` query's lambda → the struct element, with the path
    prefix stripped (ES nested queries spell full ``path.sub``
    paths)."""
    if scope is None:
        return F.col(field)
    path, x = scope
    if not field.startswith(path + "."):
        raise ValueError(
            f"nested query field {field!r} must live under path {path!r}"
        )
    col = x
    for part in field[len(path) + 1:].split("."):
        col = col[part]
    return col


def _collect_inner_hits(q) -> list[tuple[str, dict, dict]]:
    """Walk a query tree for ``nested`` clauses carrying an
    ``inner_hits`` section (round 13, VERDICT r12 Next #4) —
    ES reports WHICH nested objects matched each hit; each clause
    yields ``(path, inner_query, inner_hits_spec)``."""
    out: list[tuple[str, dict, dict]] = []

    def _walk(node, in_nested=False):
        if isinstance(node, list):
            for v in node:
                _walk(v, in_nested)
            return
        if not isinstance(node, dict):
            return
        b = node.get("nested")
        if isinstance(b, dict):
            if "inner_hits" in b:
                if in_nested:
                    # an inner nested clause's inner_hits would need
                    # per-outer-object offset pairs — no flat column
                    # shape; the OUTER clause can carry inner_hits
                    raise ValueError(
                        "inner_hits on a nested query INSIDE another "
                        "nested query is not supported"
                    )
                out.append((b["path"], b["query"], b["inner_hits"] or {}))
            _walk(b.get("query"), True)
            for k, v in node.items():
                if k != "nested":
                    _walk(v, in_nested)
            return
        for v in node.values():
            _walk(v, in_nested)

    _walk(q or {})
    return out


def _intervals_expr(col: Column, rule: dict) -> Column:
    """One intervals RULE → boolean Column (see the `intervals` arm
    of compile_query; PARITY #39)."""
    kinds = [k for k in rule
             if k in ("match", "prefix", "wildcard", "any_of",
                      "all_of", "fuzzy")]
    if len(kinds) != 1:
        raise ValueError(
            f"an intervals rule takes exactly one kind, got {kinds}"
        )
    k = kinds[0]
    from .retrieval import _analyze, _tokens_col

    if k == "any_of":
        subs = rule["any_of"]["intervals"]
        if not subs:
            raise ValueError("any_of needs intervals")
        out = _false_safe(_intervals_expr(col, subs[0]))
        for s in subs[1:]:
            out = out | _false_safe(_intervals_expr(col, s))
        return out
    if k == "all_of":
        # round 17 (VERDICT r16 Next #4): ordered all_of — the
        # sub-rules' interval sets must appear IN ORDER (each
        # starting after the previous ends), total between-interval
        # gap ≤ max_gaps (< 0 / absent = unlimited). The chain walks
        # greedily (per start, the min-END next interval — the #39
        # span_near reading, so all_of of single-term matches is
        # EXACTLY the flat ordered match; pinned in pytest).
        # Unordered all_of keeps raising: Lucene's interval
        # minimization has no expression-tree reading.
        body = rule["all_of"]
        extra = set(body) - {"intervals", "ordered", "max_gaps"}
        if extra:
            raise ValueError(
                f"intervals all_of key {sorted(extra)[0]!r} is not "
                "modeled (filter rules need interval algebra beyond "
                "the ordered chain — PARITY #39)"
            )
        subs = body.get("intervals") or []
        if not subs:
            raise ValueError("all_of needs intervals")
        if not body.get("ordered"):
            raise ValueError(
                "intervals all_of needs ordered:true — unordered "
                "composition takes Lucene's interval minimization, "
                "which has no expression-tree reading (PARITY #39)"
            )
        sets = [_interval_occ_set(col, s) for s in subs]
        if len(sets) == 1:
            return F.size(sets[0]) > 0
        return _all_of_ordered_expr(sets, int(body.get("max_gaps", -1)))
    from .retrieval import _analyzer_spec

    if k == "prefix":
        analyzer = rule["prefix"].get("analyzer", "whitespace")
        pre = str(rule["prefix"]["prefix"])
        # Lucene normalizes prefix/wildcard text through the
        # analyzer's multi-term-aware filters (lowercase only), so
        # under 'standard' the query side folds case like the doc
        # tokens do — the prefix_leaf discipline (ADVICE r16).
        if _analyzer_spec(analyzer)[0] == "standard":
            pre = pre.lower()
        return F.exists(
            _tokens_col(col, analyzer),
            lambda t: t.startswith(F.lit(pre)),
        )
    if k == "wildcard":
        analyzer = rule["wildcard"].get("analyzer", "whitespace")
        raw = str(rule["wildcard"]["pattern"])
        if _analyzer_spec(analyzer)[0] == "standard":
            raw = raw.lower()  # same multi-term normalization
        pat = _like_escape(raw)
        pat = pat.replace("*", "%").replace("?", "_")
        return F.exists(
            _tokens_col(col, analyzer),
            lambda t: t.like(pat),
        )
    if k != "match":
        raise ValueError(
            f"intervals {k!r}: fuzzy expansion is not modeled "
            "(use match/prefix/wildcard/any_of/all_of)"
        )
    body = rule["match"]
    analyzer = body.get("analyzer", "whitespace")
    terms = _analyze(str(body["query"]), analyzer)
    if not terms:
        return F.lit(False)
    toks = _tokens_col(col, analyzer)
    if len(terms) == 1:
        return F.array_contains(toks, terms[0])
    if not body.get("ordered"):
        raise ValueError(
            "multi-term intervals match needs ordered:true — "
            "unordered matching takes Lucene's interval "
            "minimization, which has no expression-tree reading "
            "(PARITY #39)"
        )
    return _ordered_chain_expr(toks, terms, int(body.get("max_gaps", -1)))


def _interval_occ_set(col: Column, rule: dict) -> Column:
    """An intervals sub-rule → ``array<struct<s int, e int>>`` of
    its interval occurrences over 0-based token positions (round 17,
    the all_of building block; PARITY #39): ``match`` single-term /
    ``prefix`` / ``wildcard`` → each qualifying token position as
    [p, p]; ``match`` multi-term (ordered, its OWN max_gaps budget)
    → the greedy chains; ``any_of`` → the union. Nested ``all_of``
    and ``fuzzy`` raise (one composition level — the documented
    bound)."""
    from .retrieval import _analyze, _analyzer_spec, _tokens_col

    kinds = [k for k in rule
             if k in ("match", "prefix", "wildcard", "any_of",
                      "all_of", "fuzzy")]
    if len(kinds) != 1:
        raise ValueError(
            f"an intervals rule takes exactly one kind, got {kinds}"
        )
    k = kinds[0]

    def _pos_set(toks, pred):
        idx = F.transform(
            toks, lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        )
        return F.transform(
            F.filter(idx, lambda st: pred(st["t"])),
            lambda st: F.struct(st["i"].alias("s"), st["i"].alias("e")),
        )

    if k == "prefix":
        analyzer = rule["prefix"].get("analyzer", "whitespace")
        pre = str(rule["prefix"]["prefix"])
        if _analyzer_spec(analyzer)[0] == "standard":
            pre = pre.lower()
        return _pos_set(
            _tokens_col(col, analyzer),
            lambda t: t.startswith(F.lit(pre)),
        )
    if k == "wildcard":
        analyzer = rule["wildcard"].get("analyzer", "whitespace")
        raw = str(rule["wildcard"]["pattern"])
        if _analyzer_spec(analyzer)[0] == "standard":
            raw = raw.lower()
        pat = _like_escape(raw).replace("*", "%").replace("?", "_")
        return _pos_set(
            _tokens_col(col, analyzer), lambda t: t.like(pat)
        )
    if k == "any_of":
        subs = rule["any_of"]["intervals"]
        if not subs:
            raise ValueError("any_of needs intervals")
        out = _interval_occ_set(col, subs[0])
        for s in subs[1:]:
            out = F.concat(out, _interval_occ_set(col, s))
        return out
    if k != "match":
        raise ValueError(
            f"intervals {k!r} inside all_of: nested all_of / fuzzy "
            "have no occurrence-set reading (one composition level "
            "— PARITY #39)"
        )
    body = rule["match"]
    analyzer = body.get("analyzer", "whitespace")
    terms = _analyze(str(body["query"]), analyzer)
    toks = _tokens_col(col, analyzer)
    if not terms:
        return F.array().cast("array<struct<s:int,e:int>>")
    if len(terms) == 1:
        return _pos_set(toks, lambda t: t == F.lit(terms[0]))
    if not body.get("ordered"):
        raise ValueError(
            "multi-term intervals match needs ordered:true — "
            "unordered matching takes Lucene's interval "
            "minimization, which has no expression-tree reading "
            "(PARITY #39)"
        )
    return _chain_intervals(toks, terms, int(body.get("max_gaps", -1)))


def _chain_intervals(toks: Column, terms: list[str],
                     max_gaps: int) -> Column:
    """All greedy in-order occurrence chains of ``terms`` within the
    gap budget, as ``array<struct<s int, e int>>`` — per start
    position of the first term, the minimal completion (the #39
    span_near reading), kept iff (e - s) ≤ len-1+max_gaps (< 0 =
    unlimited). Position arrays bound ONCE per row (the
    singleton-transform CSE discipline)."""
    L = len(terms)

    def _positions(t):
        idx = F.transform(
            toks, lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        )
        return F.transform(
            F.filter(idx, lambda st: st["t"] == F.lit(t)),
            lambda st: st["i"],
        )

    bound = F.array(F.struct(*[
        _positions(t).alias(f"p{j}") for j, t in enumerate(terms)
    ]))

    def _spans(s):
        def _next_after(poss, after):
            return F.array_min(F.filter(poss, lambda x: x > after))

        def _end_of(p):
            end = p
            for j in range(1, L):
                end = _next_after(s[f"p{j}"], end)
            return end

        cand = F.transform(
            s["p0"],
            lambda p: F.struct(p.alias("s"), _end_of(p).alias("e")),
        )
        keep = lambda c: c["e"].isNotNull() if max_gaps < 0 else (
            c["e"].isNotNull()
            & ((c["e"] - c["s"]) <= F.lit(L - 1 + max_gaps))
        )
        return F.filter(cand, keep)

    return F.element_at(F.transform(bound, _spans), 1)


def _all_of_ordered_expr(sets: list[Column], max_gaps: int) -> Column:
    """Does an in-order selection I1..In (one interval from each
    set, each starting AFTER the previous ends) exist with total
    between-interval gap ≤ ``max_gaps`` (< 0 = unlimited)? The walk
    is greedy: per I1 candidate, each next interval is the min-END
    candidate starting after the previous end (min start among
    min-end ties) — the #39 reading, so all_of of single-position
    sets reduces exactly to the flat ordered chain. All sets bound
    ONCE per row before the scan."""
    n = len(sets)
    bound = F.array(F.struct(*[
        s.alias(f"s{j}") for j, s in enumerate(sets)
    ]))

    def _next_interval(set_col, after):
        # greedy step, candidates bound once: min-end interval
        # starting after `after` (NULL struct fields when none)
        return F.element_at(F.transform(
            F.array(F.filter(set_col, lambda c: c["s"] > after)),
            lambda cand: F.element_at(F.transform(
                F.array(F.array_min(
                    F.transform(cand, lambda c: c["e"])
                )),
                lambda em: F.struct(
                    F.array_min(F.transform(
                        F.filter(cand, lambda c: c["e"] == em),
                        lambda c: c["s"],
                    )).alias("s"),
                    em.alias("e"),
                ),
            ), 1),
        ), 1)

    def _step(state, set_col):
        # state struct<e, g> bound once, the greedy next interval
        # bound once — the walk stays LINEAR in n (naive chaining
        # would re-evaluate the whole prefix per reference)
        return F.element_at(F.transform(F.array(state), lambda st:
            F.element_at(F.transform(
                F.array(_next_interval(set_col, st["e"])),
                lambda nxt: F.struct(
                    nxt["e"].alias("e"),
                    (st["g"] + (nxt["s"] - st["e"] - F.lit(1)))
                    .alias("g"),
                ),
            ), 1)), 1)

    def _verdict(b):
        def _try_start(i1):
            state = F.struct(
                i1["e"].alias("e"), F.lit(0).alias("g")
            )
            for j in range(1, n):
                state = _step(state, b[f"s{j}"])

            def _final(st):
                ok = st["e"].isNotNull()
                if max_gaps >= 0:
                    ok = ok & (st["g"] <= F.lit(max_gaps))
                return ok

            return F.coalesce(
                F.element_at(
                    F.transform(F.array(state), _final), 1
                ),
                F.lit(False),
            )

        return F.exists(b["s0"], _try_start)

    return F.element_at(F.transform(bound, _verdict), 1)


def _ordered_chain_expr(toks: Column, terms: list[str],
                        max_gaps: int) -> Column:
    """Does ANY in-order occurrence chain of ``terms`` exist with
    total gap ≤ ``max_gaps`` (< 0 = unlimited)? The span_near
    greedy-minimal reading over ONCE-BOUND per-term position arrays
    — shared by the intervals ordered match and the span_near query
    (PARITY #39)."""
    L = len(terms)

    def _positions(t):
        indexed = F.transform(
            toks, lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        )
        return F.transform(
            F.filter(indexed, lambda s: s["t"] == F.lit(t)),
            lambda s: s["i"],
        )

    # the span_near binding discipline: every term's position array
    # computed ONCE per row inside a singleton transform lambda
    bound = F.array(
        F.struct(
            *[_positions(t).alias(f"p{j}") for j, t in enumerate(terms)]
        )
    )

    def _any_span(s):
        def _next_after(poss, after):
            return F.array_min(F.filter(poss, lambda x: x > after))

        def _span_ok(p):
            end = p
            for j in range(1, L):
                end = _next_after(s[f"p{j}"], end)
            if max_gaps < 0:
                # unlimited gaps: any completed in-order chain counts
                return end.isNotNull()
            return (end - p) <= F.lit(L - 1 + max_gaps)

        return F.exists(s["p0"], _span_ok)

    return F.element_at(F.transform(bound, _any_span), 1)


def _span_expr(kind: str, body: dict, _scope) -> Column:
    """The classic span query family in filter context (round 16,
    PARITY #41): ``span_term`` (token containment), ``span_first``
    (the term's FIRST occurrence ends within the first ``end``
    positions — Lucene's end-exclusive reading over 1-based
    array_position), ``span_or`` (NULL-safe OR), ``span_near`` with
    ``in_order: true`` (the greedy ordered chain; unordered raises —
    the intervals bound). Round 17 (VERDICT r16 Next #3) adds
    ``span_not`` (an include-span overlapping no exclude-span, with
    the pre/post dilation knobs) and ``span_containing`` /
    ``span_within`` (a big-span fully containing a little-span — one
    doc-level verdict for both) over ``_span_occ_tree``'s shared
    occurrence intervals. span_multi and deeper span nesting raise
    loudly."""
    from .retrieval import _tokens_col

    def _term_of(clause: dict) -> tuple[str, str]:
        if set(clause) != {"span_term"}:
            raise ValueError(
                "span clause must be span_term here (span nesting "
                "beyond span_or/span_near-of-terms is not modeled)"
            )
        (f, spec), = clause["span_term"].items()
        v = spec["value"] if isinstance(spec, dict) else spec
        return f, str(v)

    if kind == "span_term":
        (f, spec), = body.items()
        v = spec["value"] if isinstance(spec, dict) else spec
        return F.array_contains(
            _tokens_col(_scoped_col(f, _scope)), str(v)
        )
    if kind == "span_first":
        f, v = _term_of(body["match"])
        end = int(body["end"])
        pos = F.array_position(
            _tokens_col(_scoped_col(f, _scope)), v
        )
        return (pos > F.lit(0)) & (pos <= F.lit(end))
    if kind == "span_or":
        clauses = body["clauses"]
        if not clauses:
            raise ValueError("span_or needs clauses")
        out = None
        for c in clauses:
            (ck, cb), = c.items()
            arm = _false_safe(_span_expr(ck, cb, _scope))
            out = arm if out is None else out | arm
        return out
    if kind == "span_near":
        if not body.get("in_order"):
            raise ValueError(
                "span_near needs in_order: true — unordered spans "
                "take Lucene's minimization (the intervals bound, "
                "PARITY #39/#41)"
            )
        pairs = [_term_of(c) for c in body["clauses"]]
        fields = {f for f, _ in pairs}
        if len(fields) != 1:
            raise ValueError(
                f"span_near clauses must share one field, got "
                f"{sorted(fields)} (the ES contract)"
            )
        toks = _tokens_col(_scoped_col(fields.pop(), _scope))
        terms = [v for _, v in pairs]
        if len(terms) == 1:
            return F.array_contains(toks, terms[0])
        return _ordered_chain_expr(toks, terms, int(body.get("slop", 0)))
    if kind == "span_not":
        # round 17 (VERDICT r16 Next #3): an include-span exists
        # that overlaps NO exclude-span (the include interval grown
        # by pre/post tokens, ES's dilation knobs). Occurrence sets
        # come from the shared once-bound position arrays.
        extra = set(body) - {"include", "exclude", "pre", "post",
                             "dist", "boost"}
        if extra:
            raise ValueError(
                f"span_not key {sorted(extra)[0]!r} is not modeled"
            )
        if "dist" in body:
            # dist is the deprecated pre+post combined form
            pre = post = int(body["dist"])
        else:
            pre, post = int(body.get("pre", 0)), int(body.get("post", 0))
        if pre < 0 or post < 0:
            raise ValueError("span_not pre/post must be >= 0")
        f_i, inc = _span_occ_tree(body["include"], _scope)
        f_e, exc = _span_occ_tree(body["exclude"], _scope)
        if f_i != f_e:
            raise ValueError(
                f"span_not include/exclude must share one field, "
                f"got {sorted({f_i, f_e})} (the ES contract)"
            )
        # bind BOTH occurrence arrays once (the singleton-transform
        # CSE discipline) before the quadratic-in-occurrences scan
        pair = F.array(F.struct(inc.alias("inc"), exc.alias("exc")))

        def _verdict(s):
            return F.exists(
                s["inc"],
                lambda i: ~F.coalesce(
                    F.exists(
                        s["exc"],
                        lambda x: (x["s"] <= i["e"] + F.lit(post))
                        & (x["e"] >= i["s"] - F.lit(pre)),
                    ),
                    F.lit(False),
                ),
            )

        return F.element_at(F.transform(pair, _verdict), 1)
    if kind in ("span_containing", "span_within"):
        # round 17 (VERDICT r16 Next #3): both take {little, big};
        # at the DOC level the verdict is identical — does a big-
        # span exist that fully contains a little-span? (ES returns
        # big's spans for containing and little's for within, a
        # scoring/highlight distinction with no filter meaning.)
        extra = set(body) - {"little", "big", "boost"}
        if extra:
            raise ValueError(
                f"{kind} key {sorted(extra)[0]!r} is not modeled"
            )
        f_b, big = _span_occ_tree(body["big"], _scope)
        f_l, little = _span_occ_tree(body["little"], _scope)
        if f_b != f_l:
            raise ValueError(
                f"{kind} little/big must share one field, got "
                f"{sorted({f_b, f_l})} (the ES contract)"
            )
        pair = F.array(F.struct(big.alias("b"), little.alias("l")))

        def _contains(s):
            return F.exists(
                s["b"],
                lambda b: F.coalesce(
                    F.exists(
                        s["l"],
                        lambda l: (b["s"] <= l["s"]) & (l["e"] <= b["e"]),
                    ),
                    F.lit(False),
                ),
            )

        return F.element_at(F.transform(pair, _contains), 1)
    raise ValueError(
        f"span query {kind!r}: span_multi and span nesting beyond "
        "span_or/span_near-of-terms are not modeled (PARITY #41)"
    )


def _span_occ_tree(clause: dict, _scope) -> tuple[str, Column]:
    """A span clause → ``(field, array<struct<s int, e int>>)`` of
    its occurrence intervals over 0-based token positions (round 17,
    PARITY #41): ``span_term`` → each position as [p, p];
    ``span_near`` (in_order) → each completed greedy chain within
    slop as [start, end] (the #39 reading: per start position, the
    minimal in-order completion); ``span_or`` → the union. These are
    the span sets span_not / span_containing / span_within quantify
    over; anything else raises loudly."""
    from .retrieval import _tokens_col

    (ck, cb), = clause.items()
    if ck == "span_term":
        (f, spec), = cb.items()
        v = str(spec["value"] if isinstance(spec, dict) else spec)
        toks = _tokens_col(_scoped_col(f, _scope))
        idx = F.transform(
            toks, lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        )
        occ = F.transform(
            F.filter(idx, lambda st: st["t"] == F.lit(v)),
            lambda st: F.struct(st["i"].alias("s"), st["i"].alias("e")),
        )
        return f, occ
    if ck == "span_or":
        subs = cb["clauses"]
        if not subs:
            raise ValueError("span_or needs clauses")
        parts = [_span_occ_tree(c, _scope) for c in subs]
        fields = {f for f, _ in parts}
        if len(fields) != 1:
            raise ValueError(
                f"span_or clauses must share one field, got "
                f"{sorted(fields)} (the ES contract)"
            )
        out = parts[0][1]
        for _, p in parts[1:]:
            out = F.concat(out, p)
        return fields.pop(), out
    if ck == "span_near":
        if not cb.get("in_order"):
            raise ValueError(
                "span_near needs in_order: true — unordered spans "
                "take Lucene's minimization (the intervals bound, "
                "PARITY #39/#41)"
            )
        slop = int(cb.get("slop", 0))
        terms: list[str] = []
        fields = set()
        for c in cb["clauses"]:
            if set(c) != {"span_term"}:
                raise ValueError(
                    "span_near occurrence clauses must be span_term "
                    "(span nesting beyond span_or/span_near-of-terms "
                    "is not modeled)"
                )
            (f, spec), = c["span_term"].items()
            fields.add(f)
            terms.append(str(
                spec["value"] if isinstance(spec, dict) else spec
            ))
        if len(fields) != 1:
            raise ValueError(
                f"span_near clauses must share one field, got "
                f"{sorted(fields)} (the ES contract)"
            )
        field = fields.pop()
        toks = _tokens_col(_scoped_col(field, _scope))
        if len(terms) == 1:
            return field, _span_occ_tree(
                {"span_term": {field: terms[0]}}, _scope
            )[1]
        L = len(terms)

        def _positions(t):
            idx = F.transform(
                toks, lambda x, i: F.struct(x.alias("t"), i.alias("i"))
            )
            return F.transform(
                F.filter(idx, lambda st: st["t"] == F.lit(t)),
                lambda st: st["i"],
            )

        bound = F.array(F.struct(*[
            _positions(t).alias(f"p{j}") for j, t in enumerate(terms)
        ]))

        def _spans(s):
            def _next_after(poss, after):
                return F.array_min(F.filter(poss, lambda x: x > after))

            def _end_of(p):
                end = p
                for j in range(1, L):
                    end = _next_after(s[f"p{j}"], end)
                return end

            cand = F.transform(
                s["p0"],
                lambda p: F.struct(
                    p.alias("s"), _end_of(p).alias("e")
                ),
            )
            return F.filter(
                cand,
                lambda c: c["e"].isNotNull()
                & ((c["e"] - c["s"]) <= F.lit(L - 1 + slop)),
            )

        return field, F.element_at(F.transform(bound, _spans), 1)
    raise ValueError(
        f"span clause {ck!r} has no occurrence-set reading "
        "(span_term / span_or / span_near(in_order) only, PARITY #41)"
    )


def resolve_terms_lookups(node, lookups: dict | None):
    """The ``terms`` LOOKUP form (round 16): ``{"terms": {field:
    {"index": ..., "id": ..., "id_field": ..., "path": ...}}}`` —
    ES fetches the named doc and rewrites to a regular terms query;
    this is that rewrite on the lake. The lookup index resolves from
    ``lookups`` (the search entry points' kwarg — another dumped
    table); ``id_field`` names the doc-id column (engine extension,
    the `ids`-query bound: lake rows carry no ``_id``); ``path`` is
    a dotted struct path to the terms array (or scalar). One bounded
    collect per lookup: ES's own GET-one-doc, limit(2) to make a
    duplicate id LOUD; a missing doc matches nothing (ES behavior).
    PARITY #38."""
    if isinstance(node, list):
        return [resolve_terms_lookups(x, lookups) for x in node]
    if not isinstance(node, dict):
        return node
    if "terms" in node and isinstance(node["terms"], dict):
        body = node["terms"]
        items = [(f, v) for f, v in body.items() if f != "boost"]
        if (len(items) == 1 and isinstance(items[0][1], dict)
                and {"index", "id", "path"} <= set(items[0][1])):
            field, spec = items[0]
            if lookups is None or spec["index"] not in lookups:
                raise ValueError(
                    f"terms lookup index {spec['index']!r}: pass the "
                    "table via the lookups= kwarg"
                )
            if "id_field" not in spec:
                raise ValueError(
                    "terms lookup needs 'id_field' naming the doc-id "
                    "column — lake rows carry no _id (the ids-query "
                    "bound, PARITY #38)"
                )
            tbl = lookups[spec["index"]]
            src = F.col(spec["path"].split(".")[0])
            for part in spec["path"].split(".")[1:]:
                src = src[part]
            # bounded: ≤2 rows (the GET-one-doc fetch; 2 proves dupes)
            rows = (
                tbl.filter(F.col(spec["id_field"]) == F.lit(spec["id"]))
                .select(src.alias("_terms")).limit(2).collect()
            )
            if len(rows) > 1:
                raise ValueError(
                    f"terms lookup id {spec['id']!r} is ambiguous in "
                    f"{spec['index']!r} ({spec['id_field']!r} not unique)"
                )
            if not rows:
                vals = []  # missing doc → matches nothing, like ES
            else:
                v = rows[0]["_terms"]
                vals = list(v) if isinstance(v, (list, tuple)) else (
                    [] if v is None else [v]
                )
            return {"terms": {field: vals}}
    return {k: resolve_terms_lookups(v, lookups) for k, v in node.items()}


def compile_query(q: dict | None, _scope=None) -> Column:
    """ES query DSL dict → boolean ``Column`` (filter context: no
    scoring — scored retrieval is operators/retrieval.py).

    ``nested`` (round 11, VERDICT r10 Next #4): ``{"nested": {"path":
    p, "query": q}}`` compiles to ``exists(p, x -> compile(q))`` over
    an ``array<struct>`` column — the parent matches when ANY nested
    object satisfies the WHOLE inner query (the independent-object
    semantics nested mappings exist for; a flattened-object dump
    would cross-match fields of different objects). Requires the
    array-mode dump (``multivalue='array'`` keeps full arrays,
    schema.py); the default first-element collapse cannot answer
    nested queries and the missing column fails loudly. Inside the
    nested scope the term/terms/range/exists/prefix/wildcard/regexp/
    match/multi_match/match_phrase/bool kinds work (round 12: the
    analyzer seam tokenizes COLUMNS, so the struct element analyzes
    like any text field); geo kinds raise (PARITY #22).

    Round 15 (VERDICT r14 Next #3-#7) widens the dialect: the
    compound scoring wrappers ``constant_score``/``dis_max``/
    ``boosting`` as exact filter-context reductions (PARITY #27),
    ``simple_query_string`` (the lenient search-box grammar, PARITY
    #28), ``match_phrase_prefix``/``match_bool_prefix``
    (search-as-you-type, PARITY #29), CIDR/dotted-quad ip values in
    ``term``/``terms``/``range`` (PARITY #30), and ``terms_set``
    (PARITY #31)."""
    if not q:
        return F.lit(True)
    if len(q) != 1:
        raise ValueError(f"query object must have exactly one key: {sorted(q)}")
    (kind, body), = q.items()

    if kind == "match_all":
        return F.lit(True)
    if kind == "bool":
        return _compile_bool(body, _scope)
    # --- compound scoring wrappers (round 15, VERDICT r14 Next #3).
    # In FILTER context — this compiler's documented scope (scored
    # retrieval is operators/retrieval.py) — each reduces exactly:
    # the wrapper only changes _score, never the matched set.
    if kind == "constant_score":
        # matches exactly what its filter matches; boost only sets
        # the constant _score
        return compile_query(body["filter"], _scope)
    if kind == "dis_max":
        # matches the union of its queries (best_fields scoring has
        # no filter meaning; tie_breaker only blends scores) — each
        # arm NULL-safe so one missing field can't poison the OR,
        # the multi_match discipline
        qs = body["queries"]
        if not qs:
            raise ValueError("dis_max needs at least one query")
        out = _false_safe(compile_query(qs[0], _scope))
        for sub in qs[1:]:
            out = out | _false_safe(compile_query(sub, _scope))
        return out
    if kind == "boosting":
        # matches exactly what positive matches; the negative clause
        # DEMOTES scores (multiplies by negative_boost) but never
        # filters — ES returns negative-matching docs, just ranked
        # lower
        return compile_query(body["positive"], _scope)
    if kind == "function_score":
        # round 17 (VERDICT r16 Next #2): the most-wrapped request
        # shape in saved Kibana/alerting queries. In FILTER context
        # the reduction is exact: function_score matches EXACTLY its
        # inner query — per-function `filter` clauses gate which
        # score FUNCTION applies to a doc, never which docs return
        # (FunctionScoreQuery rewrites to the inner query's matches;
        # a doc matching no function filter still returns, at the
        # unmodified score). score_mode/boost_mode/max_boost/weight/
        # random_score/field_value_factor/decay functions only shape
        # _score and are accepted-and-ignored, the multi_match boost
        # discipline. The ONE scoring knob that can change the
        # matched set is `min_score` (docs scoring below it are
        # dropped) — that needs real scoring, so it raises loudly.
        # PARITY #43.
        if "min_score" in body:
            raise ValueError(
                "function_score min_score drops docs by SCORE — no "
                "filter-context reduction exists (scored retrieval "
                "is operators/retrieval.py; PARITY #43)"
            )
        extra = set(body) - {
            "query", "functions", "boost", "boost_mode", "score_mode",
            "max_boost", "weight", "random_score",
            "field_value_factor", "script_score", "gauss", "exp",
            "linear",
        }
        if extra:
            raise ValueError(
                f"function_score key {sorted(extra)[0]!r} is not "
                "modeled"
            )
        return compile_query(body.get("query"), _scope)
    if kind == "script_score":
        # round 17 (VERDICT r16 Next #2): script_score computes
        # _score via Painless but matches EXACTLY its inner query —
        # the same filter-context reduction. min_score (the one
        # score-dependent matching knob) raises; the plain `script`
        # QUERY kind (filter-BY-Painless) keeps raising elsewhere.
        # PARITY #43.
        if "min_score" in body:
            raise ValueError(
                "script_score min_score drops docs by SCORE — no "
                "filter-context reduction exists (PARITY #43)"
            )
        if "query" not in body:
            raise ValueError("script_score needs a 'query'")
        return compile_query(body["query"], _scope)
    if kind == "combined_fields":
        # round 16: the ES 7.13+ term-centric multi-field match (the
        # BM25F successor to cross_fields). Filter-context reduction:
        # each analyzed query term matches if it appears in ANY of
        # the fields (ES treats the fields as one combined text
        # field), the per-TERM verdicts folding under `operator` /
        # an integer `minimum_should_match`. Scoring (per-field
        # weights, the ^boost suffixes) has no filter meaning —
        # boosts are accepted and ignored, the multi_match
        # discipline. PARITY #37.
        from .retrieval import _terms, _tokens_col

        analyzer = body.get("analyzer", "whitespace")
        terms = _terms(str(body["query"]), analyzer)
        if not terms:
            return F.lit(False)
        cols = [
            _scoped_col(f.split("^")[0], _scope) for f in body["fields"]
        ]
        if not cols:
            raise ValueError("combined_fields needs a fields list")
        toks = [_tokens_col(c, analyzer) for c in cols]
        per_term = []
        for t in terms:
            arm = _false_safe(F.array_contains(toks[0], t))
            for tk in toks[1:]:
                arm = arm | _false_safe(F.array_contains(tk, t))
            per_term.append(arm)
        msm = body.get("minimum_should_match")
        op = body.get("operator", "or")
        if msm is not None:
            if op == "and":
                raise ValueError(
                    "combined_fields minimum_should_match applies "
                    "to operator or (the ES contract)"
                )
            n = int(msm)  # percent forms raise via int()
            hits = per_term[0].cast("int")
            for a in per_term[1:]:
                hits = hits + a.cast("int")
            return hits >= F.lit(n)
        out = per_term[0]
        for a in per_term[1:]:
            out = (out & a) if op == "and" else (out | a)
        return out
    if kind == "intervals":
        # round 16: the intervals query — position-rule matching in
        # filter context (minimal intervals / scoring are moot: the
        # verdict is "does ANY satisfying interval exist"). Rules:
        # `match` (multi-term requires ordered:true — unordered
        # needs Lucene's interval minimization, a documented bound;
        # max_gaps -1 = unlimited), `prefix`, `wildcard`, `any_of`
        # (OR of sub-rules). `all_of`/`fuzzy` raise loudly. The
        # ordered-match chain is the span_near greedy-minimal
        # reading over ONCE-BOUND per-term position arrays
        # (retrieval.span_near_occurrences' technique and its
        # documented Lucene divergence). PARITY #39.
        (field, rule), = ((f, r) for f, r in body.items())
        return _intervals_expr(_scoped_col(field, _scope), rule)
    if kind == "geo_grid" and _scope is not None:
        # same bound as the sibling geo queries below (ADVICE r16):
        # the arm reads F.col(field+'.lat') against the TOP-LEVEL
        # frame, which inside nested would silently resolve wrong.
        raise ValueError("geo queries inside nested are not supported")
    if kind == "geo_grid":
        # round 16: the ES 8.x geo_grid query — docs whose point
        # falls in ONE named grid cell, the exact companion of the
        # geotile_grid/geohash_grid aggs (a map click filters to the
        # clicked cell). The verdict is key-expression equality with
        # the SAME trees the aggs use, so a geo_grid filter matches
        # exactly the bucket it names. geohex raises (H3 has no
        # lake-side tree — the grid family's documented bound).
        (field, spec), = body.items()
        if "geotile" in spec:
            key = str(spec["geotile"])
            try:
                zoom = int(key.split("/")[0])
            except (ValueError, IndexError):
                raise ValueError(f"geotile key {key!r}: want 'z/x/y'")
            return _geotile_expr(
                F.col(field + ".lat"), F.col(field + ".lon"), zoom
            ) == F.lit(key)
        if "geohash" in spec:
            key = str(spec["geohash"])
            return _geohash_expr(
                F.col(field + ".lat"), F.col(field + ".lon"), len(key)
            ) == F.lit(key)
        if "geohex" in spec:
            raise ValueError(
                "geo_grid geohex: H3 hex indexing has no lake-side "
                "expression tree (the grid family's documented bound)"
            )
        raise ValueError("geo_grid needs geotile/geohash/geohex")
    if kind in ("span_term", "span_first", "span_or", "span_near",
                "span_not", "span_containing", "span_within",
                "span_multi"):
        return _span_expr(kind, body, _scope)
    if kind in ("rank_feature", "distance_feature"):
        # round 16: both are SCORING features — rank_feature boosts
        # by a static signal, distance_feature by closeness to an
        # origin — and in ES both match exactly the docs that HAVE a
        # value for the field (Lucene's RankFeatureQuery /
        # DistanceFeatureQuery). The filter-context reduction is
        # therefore exists(field), exact — pivot/origin/saturation
        # knobs only shape _score and are accepted and ignored.
        # PARITY #37.
        return _scoped_col(body["field"], _scope).isNotNull()
    if kind == "nested":
        path, inner = body["path"], body["query"]
        if _scope is not None:
            # nested-inside-nested QUERY (round 13, closing the
            # PARITY #22 bound): ES spells the inner path ABSOLUTE
            # ("a.b" inside path "a") — resolve it relative to the
            # outer element and recurse; same-object semantics hold
            # at every depth. (The AGGREGATION side keeps its
            # one-re-basing-per-chain bound.)
            opath, x = _scope
            if not path.startswith(opath + "."):
                raise ValueError(
                    f"nested path {path!r} must live under the outer "
                    f"nested path {opath!r}"
                )
            sub = x
            for part in path[len(opath) + 1:].split("."):
                sub = sub[part]
            return F.exists(
                sub,
                lambda y: _false_safe(
                    compile_query(inner, _scope=(path, y))
                ),
            )
        return F.exists(
            F.col(path),
            lambda x: _false_safe(compile_query(inner, _scope=(path, x))),
        )
    if kind == "exists":
        return _scoped_col(body["field"], _scope).isNotNull()
    if kind == "multi_match":
        # filter-context multi_match: OR over the per-field matches
        # (best_fields/most_fields/cross_fields scoring has no
        # filter meaning — in filter context all three match the
        # same union; each arm is NULL-safe so one missing field
        # can't poison the OR). Works inside nested scope too
        # (round 12 — the analyzer seam takes columns, PARITY #22
        # narrowed). Round 15 widens `type`: phrase /
        # phrase_prefix / bool_prefix route each field arm through
        # the corresponding match kind.
        mm_type = body.get("type", "best_fields")
        inner_kind = {
            "best_fields": "match",
            "most_fields": "match",
            "cross_fields": "match",
            "phrase": "match_phrase",
            "phrase_prefix": "match_phrase_prefix",
            "bool_prefix": "match_bool_prefix",
        }.get(mm_type)
        if inner_kind is None:
            raise ValueError(f"multi_match type {mm_type!r}")
        if inner_kind in ("match", "match_bool_prefix"):
            spec = {
                "query": body["query"],
                "operator": body.get("operator", "or"),
            }
        else:
            spec = {"query": body["query"]}
        per_field = [
            _false_safe(compile_query({inner_kind: {f: spec}}, _scope))
            for f in body["fields"]
        ]
        out = per_field[0]
        for c in per_field[1:]:
            out = out | c
        return out
    if kind == "simple_query_string":
        # the fault-tolerant search-box sibling (round 15, VERDICT
        # r14 Next #4): the lenient grammar lives in
        # operators/querystring.parse_simple_query_string (never
        # raises on input text — malformed pieces drop, as ES does);
        # each leaf is an analyzed MATCH over every listed field
        # (OR, NULL-safe — the multi_match discipline): term →
        # token containment, trailing-* → token prefix, phrase →
        # the token-boundary regexp. An empty/unusable query matches
        # nothing (ES's MatchNoDocsQuery).
        from .querystring import parse_simple_query_string
        from .retrieval import _analyze, _analyzer_spec, _tokens_col

        fields = [f.split("^")[0] for f in body["fields"]]
        if not fields:
            raise ValueError(
                "simple_query_string needs a non-empty fields list "
                "(the ES default '*' has no lake reading — name the "
                "text columns)"
            )
        analyzer = body.get("analyzer", "whitespace")
        default_op = body.get("default_operator", "or").lower()
        cols = [_scoped_col(f, _scope) for f in fields]

        def _over_fields(mk) -> Column:
            out = _false_safe(mk(cols[0]))
            for c in cols[1:]:
                out = out | _false_safe(mk(c))
            return out

        def term_leaf(t):
            # the QUERY side runs through the same analyzer as the
            # documents (the match discipline — round-16 fix: the raw
            # fragment vs analyzed doc tokens silently matched
            # nothing under any normalizing analyzer). A fragment the
            # analyzer splits folds under default_operator (Lucene
            # SimpleQueryParser's createBooleanQuery); one it drops
            # entirely (stopword) detaches like any unusable clause.
            qtoks = _analyze(t, analyzer)
            if not qtoks:
                return None

            def mk(c):
                toks = _tokens_col(c, analyzer)
                out = F.array_contains(toks, qtoks[0])
                for q in qtoks[1:]:
                    nxt = F.array_contains(toks, q)
                    out = (out & nxt) if default_op == "and" else (out | nxt)
                return out

            return _over_fields(mk)

        def prefix_leaf(t):
            # Lucene normalizes prefix text through the analyzer's
            # multi-term-aware filters ONLY (lowercase — never
            # stopwords/stemming), so apply the tokenizer's case rule
            typ = _analyzer_spec(analyzer)[0]
            pre = t.lower() if typ == "standard" else t
            return _over_fields(
                lambda c: F.exists(
                    _tokens_col(c, analyzer),
                    lambda tok: tok.startswith(F.lit(pre)),
                )
            )

        def phrase_leaf(text):
            import re as _re

            # the phrase's token-boundary regexp under the analyzer's
            # SEPARATOR CLASS: whitespace keeps the classic \s+ form;
            # standard lowercases and treats any non-alnum run as the
            # boundary. Stopword/stemmer specs would need positional
            # token matching — raise with the pointer (a request-spec
            # bound, not input text: the grammar itself never raises)
            typ, stop, minlen, stemmer = _analyzer_spec(analyzer)
            if stop or minlen or stemmer:
                raise ValueError(
                    "simple_query_string phrases under a stopword/"
                    "length/stemmer analyzer need positional token "
                    "matching (use match_phrase / span_near)"
                )
            qtoks = _analyze(text, analyzer)
            if not qtoks:
                return None
            if typ == "standard":
                pat = (
                    r"(^|[^a-z0-9])"
                    + r"[^a-z0-9]+".join(_re.escape(t) for t in qtoks)
                    + r"([^a-z0-9]|$)"
                )
                return _over_fields(lambda c: F.lower(c).rlike(pat))
            pat = (
                r"(^|\s)"
                + r"\s+".join(_re.escape(t) for t in qtoks)
                + r"(\s|$)"
            )
            return _over_fields(lambda c: c.rlike(pat))

        parsed = parse_simple_query_string(
            str(body["query"]),
            term_leaf,
            prefix_leaf,
            phrase_leaf,
            default_operator=default_op,
        )
        return F.lit(False) if parsed is None else parsed
    if kind == "wrapper":
        # {"wrapper": {"query": "<base64 of a query JSON>"}} — the
        # escape hatch clients use to smuggle a query through
        # string-typed config (round 15): decode and recurse; the
        # inner query gets the full dialect including nested scope
        import base64
        import json as _json

        try:
            inner = _json.loads(base64.b64decode(body["query"]))
        except Exception as e:
            raise ValueError(f"wrapper query does not decode: {e}") from e
        return compile_query(inner, _scope)
    if kind == "ids":
        # round 16: lake rows carry no ``_id`` — like the terms
        # LOOKUP form (PARITY #38) the body names the doc-id column
        # via the ``id_field`` engine extension; values compare as
        # strings (ES _id semantics). Without it the classic raise
        # stands.
        if "id_field" not in body:
            raise ValueError(
                "ids query needs a doc-id column — name it with "
                "'id_field' (lake rows carry no _id; PARITY #38)"
            )
        vals = [str(v) for v in body["values"]]
        if not vals:
            return F.lit(False)
        return _scoped_col(body["id_field"], _scope).cast("string").isin(vals)
    if kind == "pinned":
        # round 16: the promoted-results wrapper — in filter context
        # the matched set is organic ∪ pinned ids (pinning only
        # reorders scores). The ids arm takes the same id_field
        # extension; the `docs` (per-index pins) form raises.
        if "docs" in body:
            raise ValueError(
                "pinned.docs pins per-index _ids — use pinned.ids "
                "with id_field on the single-table lake"
            )
        organic = _false_safe(compile_query(body["organic"], _scope))
        ids = body.get("ids", [])
        if not ids:
            return organic
        if "id_field" not in body:
            raise ValueError(
                "pinned.ids needs 'id_field' naming the doc-id "
                "column (lake rows carry no _id; PARITY #38)"
            )
        idcol = _scoped_col(body["id_field"], _scope).cast("string")
        return organic | _false_safe(idcol.isin([str(v) for v in ids]))
    if kind in (
        "geo_bounding_box", "geo_distance", "geo_shape"
    ) and _scope is not None:
        raise ValueError("geo queries inside nested are not supported")
    if kind == "geo_bounding_box":
        # geo_point = a struct<lat double, lon double> column (the
        # natural parquet dump shape). Plain lat/lon box; the
        # dateline-wrapping form (left > right) raises rather than
        # silently matching the complement.
        (field, spec), = [
            (f, s) for f, s in body.items() if f != "validation_method"
        ]
        tl, br = spec["top_left"], spec["bottom_right"]
        lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")
        lat_ok = (lat <= F.lit(float(tl["lat"]))) & (
            lat >= F.lit(float(br["lat"]))
        )
        if float(tl["lon"]) > float(br["lon"]):
            # dateline-wrapping box (left > right, round 11): the
            # longitude band is the UNION of the two half-bands ES
            # defines for a crossing box
            return lat_ok & (
                (lon >= F.lit(float(tl["lon"])))
                | (lon <= F.lit(float(br["lon"])))
            )
        return (
            lat_ok
            & (lon >= F.lit(float(tl["lon"])))
            & (lon <= F.lit(float(br["lon"])))
        )
    if kind == "geo_distance":
        # haversine arc distance on the mean-radius sphere — the
        # parenthesization is load-bearing (the oracle SQL spells the
        # identical tree so both engines round the same IEEE ops)
        dist_m = _distance_m(body["distance"])
        (field, spec), = [
            (f, s)
            for f, s in body.items()
            if f not in ("distance", "distance_type", "validation_method")
        ]
        return _haversine_m(
            F.col(f"{field}.lat"),
            F.col(f"{field}.lon"),
            float(spec["lat"]),
            float(spec["lon"]),
        ) <= F.lit(dist_m)
    if kind == "geo_shape":
        # geo_shape over a geo_point column (round 14, VERDICT r13
        # Next #7 — the Kibana draw-a-polygon filter): point-in-shape
        # with the PLANAR lat/lon reading (ES's geo_shape indexes
        # great-circle edge geometry; for filter-sized shapes away
        # from poles/dateline the two agree — PARITY #25 documents
        # the edge divergence). `envelope` reuses the bounding-box
        # tree (GeoJSON corner order: [minLon, maxLat], [maxLon,
        # minLat], dateline wrap as the half-band union); `polygon`
        # is the textbook ray-cast as a FIXED expression tree over
        # the literal outer ring — per-edge crossing flags summed,
        # odd = inside (non-convex handled by parity; boundary
        # points are planar-undefined) — spelled identically in the
        # oracle SQL. Holes / multi-ring / other relations raise.
        (field, spec), = [
            (f, s)
            for f, s in body.items()
            if f not in ("relation", "ignore_unmapped")
        ]
        if spec.get("relation", "intersects") != "intersects":
            raise ValueError(
                "geo_shape: only the intersects relation has a "
                "point-column reading (disjoint/within/contains "
                "need indexed shapes)"
            )
        shape = spec["shape"]
        lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")
        if shape["type"] == "envelope":
            (l_, t_), (r_, b_) = shape["coordinates"]
            lat_ok = (lat <= F.lit(float(t_))) & (
                lat >= F.lit(float(b_))
            )
            if float(l_) > float(r_):
                return lat_ok & (
                    (lon >= F.lit(float(l_)))
                    | (lon <= F.lit(float(r_)))
                )
            return (
                lat_ok
                & (lon >= F.lit(float(l_)))
                & (lon <= F.lit(float(r_)))
            )
        if shape["type"] != "polygon":
            raise ValueError(
                f"geo_shape type {shape['type']!r}: envelope or "
                "polygon"
            )
        rings = shape["coordinates"]
        if len(rings) != 1:
            raise ValueError(
                "geo_shape polygon holes (inner rings) are not "
                "supported"
            )
        ring = [(float(x), float(y)) for x, y in rings[0]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]  # GeoJSON closes the ring; edges re-close
        if len(ring) < 3:
            raise ValueError("geo_shape polygon needs >= 3 vertices")
        crossings = None
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            if y1 == y2:
                continue  # horizontal edge: never crosses the ray
            edge = (
                ((F.lit(y1) > lat) != (F.lit(y2) > lat))
                & (
                    lon
                    < (F.lit(x2) - F.lit(x1))
                    * (lat - F.lit(y1))
                    / (F.lit(y2) - F.lit(y1))
                    + F.lit(x1)
                )
            )
            c = F.when(edge, 1).otherwise(0)
            crossings = c if crossings is None else crossings + c
        if crossings is None:  # all edges horizontal: zero area
            return F.lit(False)
        return (crossings % F.lit(2)) == F.lit(1)

    if kind in ("term", "terms", "range", "prefix", "wildcard", "regexp",
                "match", "match_phrase", "match_phrase_prefix",
                "match_bool_prefix", "terms_set", "fuzzy"):
        items = [(f, s) for f, s in body.items() if f != "boost"]
        if len(items) != 1:
            raise ValueError(f"{kind} query must name exactly one field")
        (field, spec), = items
        col = _scoped_col(field, _scope)
        if kind == "term":
            v = spec["value"] if isinstance(spec, dict) else spec
            if isinstance(v, str) and "/" in v and _is_ipv6_like(v):
                # IPv6 CIDR mask (round 17, VERDICT r16 Next #5):
                # the hi/lo two-long band via the /64 split reading
                # (PARITY #30); v4 values in a mixed column parse
                # NULL → no-match. Exact (non-mask) ip terms — v4
                # AND v6 — stay TEXTUAL equality, the dump's string
                # representation (the documented bound: '::1' does
                # not match '0:0:0:0:0:0:0:1' as an exact term).
                return _ip6_band_expr(col, v)
            if isinstance(v, str) and _is_cidr_like(v):
                # CIDR value on an ip field (round 15, VERDICT r14
                # Next #6, the log-analytics staple): the dump holds
                # ip as string, so the mask keys off the value shape
                # — the band compare runs on the octet-split long
                # tree, spelled identically in the oracle. A
                # '/'-bearing value that is NOT address-shaped (a
                # path term like 'foo/bar') stays plain string
                # equality.
                lo, hi = _cidr_bounds(v)
                ipv = _ip_col_to_long(col)
                return (ipv >= F.lit(lo)) & (ipv < F.lit(hi))
            if isinstance(spec, dict) and spec.get("case_insensitive"):
                # ES 7.10+ case_insensitive flag (round 15): ASCII
                # lower on both sides — Spark and DuckDB lower()
                # agree on ASCII; locale-specific folds are not
                # modeled
                return F.lower(col) == F.lit(str(v).lower())
            return col == F.lit(v)
        if kind == "terms":
            if isinstance(spec, dict):
                # a dict body here is the LOOKUP form (or a typo'd
                # one) that escaped resolve_terms_lookups —
                # list(spec) would silently compile the dict's KEY
                # NAMES as the term list (ADVICE r16). Raise loudly.
                raise ValueError(
                    f"terms query on {field!r}: dict body "
                    f"{sorted(spec)} is the lookup form — resolve "
                    "it via the search entry points' lookups= kwarg "
                    "(resolve_terms_lookups, PARITY #38), or pass a "
                    "plain list of values"
                )
            vals = list(spec)
            if not vals:
                return F.lit(False)
            v6masks = [
                v for v in vals
                if isinstance(v, str) and "/" in v and _is_ipv6_like(v)
            ]
            cidrs = [
                v for v in vals
                if isinstance(v, str) and v not in v6masks
                and _is_cidr_like(v)
            ]
            plain = [
                v for v in vals if v not in cidrs and v not in v6masks
            ]
            out = col.isin(plain) if plain else None
            if cidrs:
                ipv = _ip_col_to_long(col)
                for m in cidrs:
                    lo, hi = _cidr_bounds(m)
                    band = (ipv >= F.lit(lo)) & (ipv < F.lit(hi))
                    out = band if out is None else out | band
            for m in v6masks:
                # round 17: IPv6 masks in a terms list — same hi/lo
                # band as the term arm (PARITY #30)
                band = _ip6_band_expr(col, m)
                out = band if out is None else out | band
            return out
        if kind == "range":
            ops = {
                op: v for op, v in spec.items()
                if op in ("gt", "gte", "lt", "lte")
            }
            bad = set(spec) - set(ops)
            if bad:
                raise ValueError(f"range op {sorted(bad)[0]!r}")
            if not ops:
                raise ValueError("range query needs at least one bound")
            if any(
                isinstance(v, str) and _is_ipv6_like(v)
                for v in ops.values()
            ):
                # IPv6 bounds (round 17, VERDICT r16 Next #5): the
                # biased hi/lo pair compares LEXICOGRAPHICALLY —
                # (hi > H) OR (hi = H AND lo ⋈ L); a CIDR bound
                # takes its network base for gte/gt and its band
                # end for lt/lte (the v4 rule). Mixed v4/v6 bounds
                # in one range raise: there is no single ordering.
                if not all(
                    isinstance(v, str) and _is_ipv6_like(v)
                    for v in ops.values()
                ):
                    raise ValueError(
                        "range on ip: cannot mix IPv4 and IPv6 "
                        "bounds in one query (PARITY #30)"
                    )

                def _b6(v, upper):
                    if "/" in v:
                        p, hi_b, lo_b = _ip6_cidr_parts(v)
                        if not upper:
                            return hi_b, lo_b
                        if p == 0:
                            return (1 << 63) - 1, (1 << 63) - 1
                        if p <= 64:
                            return (
                                hi_b + (1 << (64 - p)) - 1,
                                (1 << 63) - 1,
                            )
                        return hi_b, lo_b + (1 << (128 - p)) - 1
                    return _ip6_literal(v)

                bounds = {
                    op: _b6(str(v), op in ("lt", "lte"))
                    for op, v in ops.items()
                }
                pair = F.array(_ip6_col_hi_lo(col))

                def _check6(h):
                    conds = []
                    for op, (hb, lb) in bounds.items():
                        hi_c, lo_c = h["hi"], h["lo"]
                        if op in ("gt", "gte"):
                            strict = lo_c > F.lit(lb) if op == "gt" \
                                else lo_c >= F.lit(lb)
                            conds.append(
                                (hi_c > F.lit(hb))
                                | ((hi_c == F.lit(hb)) & strict)
                            )
                        else:
                            strict = lo_c < F.lit(lb) if op == "lt" \
                                else lo_c <= F.lit(lb)
                            conds.append(
                                (hi_c < F.lit(hb))
                                | ((hi_c == F.lit(hb)) & strict)
                            )
                    out6 = conds[0]
                    for c in conds[1:]:
                        out6 = out6 & c
                    return out6

                return F.element_at(F.transform(pair, _check6), 1)
            if any(
                isinstance(v, str)
                and (_IPV4_RE.match(v) or _CIDR_RE.match(v))
                for v in ops.values()
            ):
                # ip bounds (round 15): dotted-quad strings order
                # NUMERICALLY ('9.x' > '10.x' lexicographically —
                # string compare would be wrong), through the same
                # octet tree; a CIDR bound takes its network base
                # for gte/gt and its band end for lt/lte (ES's
                # ip_range reading of masks as bounds)
                col = _ip_col_to_long(col)
                def _bound(v, upper):
                    if isinstance(v, str) and "/" in v:
                        lo, hi = _cidr_bounds(v)
                        return hi - 1 if upper else lo
                    return _ip_to_long(str(v))
                ops = {
                    op: _bound(v, op in ("lt", "lte"))
                    for op, v in ops.items()
                }
            parts = []
            for op, v in ops.items():
                if op == "gt":
                    parts.append(col > F.lit(v))
                elif op == "gte":
                    parts.append(col >= F.lit(v))
                elif op == "lt":
                    parts.append(col < F.lit(v))
                elif op == "lte":
                    parts.append(col <= F.lit(v))
            out = parts[0]
            for p in parts[1:]:
                out = out & p
            return out
        if kind == "prefix":
            v = spec["value"] if isinstance(spec, dict) else spec
            if isinstance(spec, dict) and spec.get("case_insensitive"):
                return F.lower(col).startswith(str(v).lower())
            return col.startswith(v)
        if kind == "wildcard":
            v = spec["value"] if isinstance(spec, dict) else spec
            pat = _like_escape(v).replace("*", "%").replace("?", "_")
            if isinstance(spec, dict) and spec.get("case_insensitive"):
                return F.lower(col).like(pat.lower())
            return col.like(pat)
        if kind == "regexp":
            v = spec["value"] if isinstance(spec, dict) else spec
            # ES regexp is implicitly anchored at both ends
            if isinstance(spec, dict) and spec.get("case_insensitive"):
                return col.rlike(f"(?i)^(?:{v})$")
            return col.rlike(f"^(?:{v})$")
        if kind == "fuzzy":
            # fuzzy term query (round 15): whole-value classic
            # Levenshtein on the column — the keyword reading; ES
            # AUTO fuzziness = 0/1/2 by term length (<3 / 3-5 / >5),
            # prefix_length pins the leading chars. The necessary
            # length-delta pre-filter keeps the O(n·m) levenshtein
            # off most rows. Divergences (the PARITY #19 suggester
            # family): classic distance (Lucene's default adds
            # Damerau transpositions), and text fields want the
            # token-level operator (retrieval.fuzzy_term_match).
            v = str(spec["value"] if isinstance(spec, dict) else spec)
            fz = (
                spec.get("fuzziness", "AUTO")
                if isinstance(spec, dict)
                else "AUTO"
            )
            if isinstance(fz, str) and fz.upper() == "AUTO":
                d = 0 if len(v) < 3 else (1 if len(v) <= 5 else 2)
            else:
                d = int(fz)
            plen = (
                int(spec.get("prefix_length", 0))
                if isinstance(spec, dict)
                else 0
            )
            cond = (
                F.abs(F.length(col) - F.lit(len(v))) <= F.lit(d)
            ) & (F.levenshtein(col, F.lit(v)) <= F.lit(d))
            if plen > 0:
                cond = col.startswith(v[:plen]) & cond
            return cond
        if kind == "match":
            if isinstance(spec, dict):
                query, op = spec["query"], spec.get("operator", "or")
                analyzer = spec.get("analyzer", "whitespace")
            else:
                query, op, analyzer = spec, "or", "whitespace"
            if isinstance(spec, dict) and "fuzziness" in spec:
                # match + fuzziness (round 16): each analyzed query
                # term matches any DOC TOKEN within the edit budget
                # (AUTO = 0/1/2 by the QUERY term's length, ES's
                # rule; prefix_length pins leading chars), folded
                # under the match operator. Same classic-Levenshtein
                # reading as the fuzzy kind (PARITY #19's family).
                from .retrieval import _terms as _qterms
                from .retrieval import _tokens_col as _tc

                fz = spec["fuzziness"]
                plen = int(spec.get("prefix_length", 0))
                toks = _tc(col, analyzer)
                tests = []
                def _tok_ok_for(t: str, d: int):
                    # a unary factory: pyspark's HOF lambda builder
                    # counts EVERY parameter (default-arg binding
                    # would read as the (x, i) form)
                    def _tok_ok(x):
                        c = (
                            F.abs(F.length(x) - F.lit(len(t)))
                            <= F.lit(d)
                        ) & (F.levenshtein(x, F.lit(t)) <= F.lit(d))
                        if plen > 0:
                            c = x.startswith(t[:plen]) & c
                        return c

                    return _tok_ok

                for t in _qterms(str(query), analyzer):
                    if isinstance(fz, str) and fz.upper() == "AUTO":
                        d = 0 if len(t) < 3 else (1 if len(t) <= 5 else 2)
                    else:
                        d = int(fz)
                    tests.append(F.exists(toks, _tok_ok_for(t, d)))
                if not tests:
                    return F.lit(False)
                out = tests[0]
                for c in tests[1:]:
                    out = (out & c) if op == "and" else (out | c)
                return out
            # the PARITY #19 analyzer seam, shared with retrieval:
            # document and query text go through the same tokenizer
            # (_terms dedupes — a repeated query term tests once).
            # Round 12: the seam takes a COLUMN, so match works
            # inside nested scope too (the struct element tokenizes
            # like any text column — PARITY #22 narrowed)
            from .retrieval import _terms, _tokens_col

            toks = _tokens_col(col, analyzer)
            tests = [
                F.array_contains(toks, t)
                for t in _terms(str(query), analyzer)
            ]
            if not tests:
                return F.lit(False)
            out = tests[0]
            for t in tests[1:]:
                out = (out & t) if op == "and" else (out | t)
            return out
        if kind == "match_phrase":
            query = spec["query"] if isinstance(spec, dict) else spec
            toks = [re.escape(t) for t in str(query).split()]
            if not toks:
                return F.lit(False)
            return col.rlike(r"(^|\s)" + r"\s+".join(toks) + r"(\s|$)")
        if kind == "match_phrase_prefix":
            # search-as-you-type (round 15, VERDICT r14 Next #5):
            # the phrase's token-boundary regexp with the LAST token
            # matched as a PREFIX — it starts at a token boundary
            # (preceded by ^ or whitespace like the full tokens) but
            # carries no trailing boundary
            query = spec["query"] if isinstance(spec, dict) else spec
            toks = [re.escape(t) for t in str(query).split()]
            if not toks:
                return F.lit(False)
            return col.rlike(r"(^|\s)" + r"\s+".join(toks))
        if kind == "match_bool_prefix":
            # the bool sibling (round 15): ES expands this to a bool
            # of term queries per analyzed token plus a prefix query
            # on the last — here array_contains over the analyzed
            # token stream for the full tokens, exists(startswith)
            # for the last, folded under the match operator
            if isinstance(spec, dict):
                query, op = spec["query"], spec.get("operator", "or")
                analyzer = spec.get("analyzer", "whitespace")
            else:
                query, op, analyzer = spec, "or", "whitespace"
            from .retrieval import _analyze, _tokens_col

            qtoks = _analyze(str(query), analyzer)
            if not qtoks:
                return F.lit(False)
            toks = _tokens_col(col, analyzer)
            last = qtoks[-1]
            tests = [
                F.array_contains(toks, t) for t in dict.fromkeys(qtoks[:-1])
            ]
            tests.append(
                F.exists(toks, lambda t: t.startswith(F.lit(last)))
            )
            out = tests[0]
            for t in tests[1:]:
                out = (out & t) if op == "and" else (out | t)
            return out
        if kind == "terms_set":
            # terms_set (round 15, VERDICT r14 Next #7): match when
            # at least <minimum_should_match_field> of the supplied
            # terms appear in the array-mode field — the nested
            # seam's array discipline (the scalar form would need
            # the array dump, exactly like the nested query)
            msm_field = spec.get("minimum_should_match_field")
            if not msm_field:
                raise ValueError(
                    "terms_set needs minimum_should_match_field "
                    "(minimum_should_match_script is Painless — out "
                    "of scope)"
                )
            lits = F.array(
                *[F.lit(v) for v in spec["terms"]]
            )
            return F.size(
                F.array_intersect(col, lits)
            ) >= _scoped_col(msm_field, _scope).cast("int")
    raise ValueError(f"unsupported query kind {kind!r}")


def _compile_bool(body: dict, _scope=None) -> Column:
    def clauses(key):
        v = body.get(key, [])
        return v if isinstance(v, list) else [v]

    out = F.lit(True)
    for c in clauses("must") + clauses("filter"):
        out = out & compile_query(c, _scope)
    for c in clauses("must_not"):
        out = out & ~_false_safe(compile_query(c, _scope))
    should = clauses("should")
    if should:
        msm = body.get(
            "minimum_should_match",
            # ES default: 1 if there is nothing else to constrain
            0 if (clauses("must") or clauses("filter")) else 1,
        )
        if int(msm) > 0:
            hits = sum(
                (_false_safe(compile_query(c, _scope)).cast("int")
                 for c in should),
                F.lit(0),
            )
            out = out & (hits >= F.lit(int(msm)))
    return out


# ---------------------------------------------------------------------------
# aggregations DSL
# ---------------------------------------------------------------------------


class _Level:
    """One bucket level of the agg tree: its output column name, key
    expression, pruning knobs, and attached metric aggs."""

    def __init__(self, name, kind, body):
        if kind == "date_range":
            # round 15: ISO-8601 string bounds are the common Kibana
            # shape — normalize ONCE to epoch millis (naive strings
            # read as UTC, the engine's session zone) with the
            # original strings kept in the default key, so overlap
            # detection and the CASE chain run on plain numbers like
            # every other date key this module emits; `now`-math
            # raises (no deterministic lake reading)
            body = dict(body)
            body["ranges"] = [
                _date_range_entry_normalized(r) for r in body["ranges"]
            ]
        if kind == "ip_range":
            # normalize ONCE (round 15, VERDICT r14 Next #6): masks
            # and dotted-quad bounds become numeric long from/to with
            # the ES response key, so the whole range-family
            # machinery (overlap detection, CASE chain, the
            # multi-membership explode) runs on plain numbers
            body = dict(body)
            body["ranges"] = _ip_ranges_normalized(body["ranges"])
        self.name, self.kind, self.body = name, kind, body
        self.metrics: list[tuple[str, dict]] = []  # (agg name, spec)
        self.top_hits: tuple[str, dict] | None = None
        # parent pipelines over THIS level's bucket sequence
        self.pipelines: list[tuple[str, str, dict]] = []  # (name, kind, spec)
        # sibling *_bucket pipes summarizing the CHILD bucket's metric
        self.sibling_pipes: list[tuple[str, str, dict]] = []
        # bucket_sort spec pruning THIS level's buckets (ES: the
        # bucket_sort sits inside this bucket's aggs and sorts it)
        self.bucket_sort: dict | None = None
        # bucket_selector specs — the HAVING clause for buckets
        # (round 12): each drops this level's buckets whose script
        # is not true, descendants with them
        self.selectors: list[dict] = []

    def key_expr(self) -> Column:
        b = self.body
        col = F.col(b["field"]) if "field" in b else None
        if self.kind in ("terms", "rare_terms"):
            # ES `missing`: docs without the field land in a bucket
            # keyed by the substitute value instead of being dropped.
            # rare_terms keys exactly like terms — the difference is
            # the pruning rule (doc_count <= max_doc_count instead of
            # a top-size rank cap), applied in compile_aggs.
            # `include`/`exclude` (round 12): value lists or an
            # implicitly-anchored regex, applied BEFORE ranking (ES
            # filters the candidate terms, then the survivors compete
            # for size) — a rejected key becomes NULL, so the doc
            # drops from this level but still counts in ancestors
            # (the NULL-key machinery)
            if "missing" in b:
                col = F.coalesce(col, F.lit(b["missing"]))
            inc, exc = b.get("include"), b.get("exclude")
            keep = None
            if isinstance(inc, dict):
                # `include: {partition: N, num_partitions: M}`
                # (round 14, VERDICT r13 Next #3) — ES's documented
                # recipe for walking ALL unique values of a
                # high-cardinality field across M requests: each
                # request sees only the terms whose hash lands in
                # its partition, applied BEFORE ranking like the
                # other include forms, so the M answers union to the
                # full term set (the pin test). ES partitions by its
                # internal ordinal hash (implementation-defined);
                # the engine's documented reading is the portable
                # md5 bucket (sampling.hash_bucket — the split
                # machinery's primitive, spelled identically in the
                # DuckDB oracle), which keeps the partition function
                # stable across engines and versions. PARITY #24.
                extra = set(inc) - {"partition", "num_partitions"}
                if extra:
                    raise ValueError(
                        f"include partition object: unknown keys "
                        f"{sorted(extra)}"
                    )
                p, m = int(inc["partition"]), int(inc["num_partitions"])
                if m <= 0 or not (0 <= p < m):
                    raise ValueError(
                        f"include partition needs "
                        f"0 <= partition < num_partitions, got "
                        f"partition={p} num_partitions={m}"
                    )
                from .sampling import hash_bucket

                keep = hash_bucket(col, m) == F.lit(p)
            elif inc is not None:
                keep = (
                    col.isin(list(inc))
                    if isinstance(inc, (list, tuple))
                    else col.cast("string").rlike(f"^(?:{inc})$")
                )
            if exc is not None:
                drop = (
                    col.isin(list(exc))
                    if isinstance(exc, (list, tuple))
                    else col.cast("string").rlike(f"^(?:{exc})$")
                )
                keep = ~drop if keep is None else keep & ~drop
            if keep is not None:
                return F.when(_false_safe(keep), col)
            return col
        if self.kind == "categorize_text":
            # ES's categorize_text (x-pack ML log categorization —
            # round 14): bucket semi-structured messages by their
            # TOKEN SKELETON. ES's algorithm is an online drain-like
            # tree (shard- and order-dependent — no deterministic
            # lake reading, the sampler's class), so the engine
            # documents its reading: whitespace tokens, every token
            # containing a digit replaced by '*', space-joined — the
            # "variable parts wildcarded" template Kibana renders.
            # The key composes with the whole agg machinery (size
            # ranking like terms, sub-aggs, pipelines). PARITY #26.
            toks = F.split(F.trim(col), r"\s+")
            skel = F.array_join(
                F.transform(
                    toks,
                    lambda t: F.when(
                        t.rlike("[0-9]"), F.lit("*")
                    ).otherwise(t),
                ),
                " ",
            )
            return F.when(col.isNotNull(), skel)
        if self.kind == "multi_terms":
            # ES drops docs missing ANY component field; concat_ws
            # would silently skip NULLs, so guard first. The flat
            # frame carries ES's key_as_string ('|'-joined).
            cols = [F.col(t["field"]) for t in b["terms"]]
            nonnull = cols[0].isNotNull()
            for c in cols[1:]:
                nonnull = nonnull & c.isNotNull()
            return F.when(
                nonnull, F.concat_ws("|", *[c.cast("string") for c in cols])
            )
        if self.kind == "date_histogram":
            # ES `missing`: docs without the field bucket at the
            # substitute timestamp instead of dropping (round 11);
            # the substitute is an ISO string or epoch-millis int
            if "missing" in b:
                m = b["missing"]
                sub = (
                    F.timestamp_millis(F.lit(int(m)))
                    if isinstance(m, int)
                    else F.to_timestamp(F.lit(str(m)))
                )
                col = F.coalesce(col, sub)
            if "calendar_interval" in b:
                if "offset" in b:
                    raise ValueError(
                        "date_histogram offset is supported with "
                        "fixed_interval only"
                    )
                unit = _CALENDAR_UNITS[b["calendar_interval"]]
                if "time_zone" in b:
                    # ES time_zone: bucket at the LOCAL unit
                    # boundary, key = that boundary's UTC epoch
                    # millis. Fixed offsets (round 12) truncate the
                    # offset-shifted instant and shift back; IANA
                    # zones (round 13, VERDICT r12 Next #1) go
                    # through the tzdb so DST-transition days come
                    # out 23/25 h wide like ES's response.
                    tzk, tzv = _tz_parse(b["time_zone"])
                    if tzk == "iana":
                        if unit in ("second", "minute", "hour"):
                            # sub-day: offsets are whole minutes, so
                            # truncation is exact per-instant offset
                            # arithmetic (ES TimeIntervalRounding) —
                            # no wall round-trip, so fall-back
                            # overlap hours keep distinct keys.
                            ms = F.unix_millis(col)
                            ioff = (
                                F.unix_millis(
                                    F.from_utc_timestamp(col, tzv)
                                )
                                - ms
                            )
                            w = F.lit(_CALENDAR_WIDTH_MS[unit])
                            return (
                                F.floor((ms + ioff) / w) * w - ioff
                            ).cast("long")
                        local = F.from_utc_timestamp(col, tzv)
                        return F.unix_millis(
                            F.to_utc_timestamp(
                                F.date_trunc(unit, local), tzv
                            )
                        )
                    off = tzv
                    if off:
                        shifted = F.timestamp_millis(
                            F.unix_millis(col) + F.lit(off)
                        )
                        return (
                            F.unix_millis(F.date_trunc(unit, shifted))
                            - F.lit(off)
                        )
                return F.unix_millis(F.date_trunc(unit, col))
            if "time_zone" in b:
                raise ValueError(
                    "date_histogram time_zone is supported with "
                    "calendar_interval only — epoch-anchored fixed "
                    "grids take `offset` instead"
                )
            ms = _fixed_ms(b["fixed_interval"])
            off = _offset_ms(b["offset"]) if "offset" in b else 0
            return (
                F.floor((F.unix_millis(col) - F.lit(off)) / F.lit(ms))
                * F.lit(ms)
                + F.lit(off)
            ).cast("long")
        if self.kind == "histogram":
            if "missing" in b:
                col = F.coalesce(col, F.lit(float(b["missing"])))
            interval = float(b["interval"])
            offset = float(b.get("offset", 0.0))
            return (
                F.floor((col - F.lit(offset)) / F.lit(interval)) * F.lit(interval)
                + F.lit(offset)
            )
        if self.kind in ("range", "date_range", "ip_range"):
            # from-inclusive, to-exclusive; docs outside every range
            # get a NULL key and are dropped (ES puts them nowhere).
            # date_range compares on epoch millis (bounds are ints,
            # like every date key this module emits). The CASE chain
            # is single-membership — compile_aggs routes OVERLAPPING
            # ranges through the multi-membership explode instead
            # (round 12) and never calls key_expr for them; the other
            # key_expr consumers (composite, streaming, top_hits)
            # still raise on overlap.
            _ranges_disjoint_or_raise(self.body["ranges"], self.kind)
            expr = None
            for cond, key in self.range_members():
                expr = (
                    F.when(cond, F.lit(key))
                    if expr is None
                    else expr.when(cond, F.lit(key))
                )
            return expr
        if self.kind == "ip_prefix":
            # ES ip_prefix (round 16): buckets by the first
            # prefix_length bits of the address — the subnet rollup
            # of the log-analytics family. The key is the NETWORK
            # BASE as a dotted quad (ES's bucket key), optionally
            # suffixed "/len" under append_prefix_length; the octet
            # math reuses the CIDR tree (integer-exact, spelled
            # identically in the DuckDB oracle). Malformed/NULL ips
            # get a NULL key (dropped here, counted in ancestors —
            # the range-family convention). is_ipv6 raises: 128-bit
            # math has no exact long tree (the ip family's
            # documented bound).
            if b.get("is_ipv6"):
                raise ValueError(
                    "ip_prefix is_ipv6: 128-bit math has no exact "
                    "long tree (the ip family's documented bound)"
                )
            plen = int(b["prefix_length"])
            if not (0 <= plen <= 32):
                raise ValueError(
                    f"ip_prefix prefix_length {plen} out of [0, 32]"
                )
            width = 1 << (32 - plen)
            base = (
                F.floor(_ip_col_to_long(col) / F.lit(width))
                * F.lit(width)
            )

            # the quad build references the base 5× — bind it ONCE
            # through the singleton transform lambda (the octet
            # tree's own binding discipline) so the parse runs once
            # per row, not per octet
            def _quad(bval):
                quad = F.concat_ws(
                    ".",
                    *[
                        (F.floor(bval / F.lit(d)) % F.lit(256))
                        .cast("string")
                        for d in (16777216, 65536, 256, 1)
                    ],
                )
                if b.get("append_prefix_length"):
                    quad = F.concat(quad, F.lit(f"/{plen}"))
                # concat_ws skips NULLs — gate on the base so
                # malformed ips drop instead of keying an '' bucket
                return F.when(bval.isNotNull(), quad)

            return F.element_at(F.transform(F.array(base), _quad), 1)
        if self.kind == "filter":
            # ES single-filter sub-aggregation: one bucket holding the
            # matching docs (the body IS a query DSL dict); non-matching
            # docs get a NULL key and drop from this subtree
            return F.when(_false_safe(compile_query(b)), F.lit(self.name))
        if self.kind == "missing":
            # docs LACKING the field — the complement of the terms
            # `missing` substitute
            return F.when(F.col(b["field"]).isNull(), F.lit(self.name))
        if self.kind == "geohash_grid":
            # the map-dashboard bucket (round 11, VERDICT r10 Next
            # #6): docs with a NULL/out-of-range point get a NULL key
            # (dropped at this level, counted in ancestors)
            return _geohash_expr(
                F.col(b["field"] + ".lat"),
                F.col(b["field"] + ".lon"),
                int(b.get("precision", 5)),
            )
        if self.kind == "nested":
            # single bucket over the EXPLODED nested objects (compile_
            # aggs replaced the array column with one posexplode_outer
            # struct per row — round 12: at ANY chain depth, parent
            # keys carried); doc_count counts OBJECTS, exactly ES's
            # nested-agg doc_count. Docs with a NULL/empty array keep
            # their outer-exploded row for ancestor counting but get a
            # NULL key here (no objects → no nested bucket membership)
            return F.when(
                F.col(b["path"]).isNotNull(), F.lit(self.name)
            )
        if self.kind == "geotile_grid":
            # Kibana maps' default bucket: Web-Mercator z/x/y tile
            # keys, exactly ES's "z/x/y" strings
            return _geotile_expr(
                F.col(b["field"] + ".lat"),
                F.col(b["field"] + ".lon"),
                int(b.get("precision", 7)),
            )
        if self.kind == "geo_distance":
            # distance-ring buckets: the range-agg CASE chain over the
            # same haversine tree the geo_distance QUERY uses (from-
            # inclusive / to-exclusive meters, ES's defaults); docs
            # outside every ring get a NULL key. Overlapping rings
            # take compile_aggs' multi-membership explode (round 12).
            _ranges_disjoint_or_raise(b["ranges"], self.kind)
            expr = None
            for cond, key in self.range_members():
                expr = (
                    F.when(cond, F.lit(key))
                    if expr is None
                    else expr.when(cond, F.lit(key))
                )
            return expr
        raise ValueError(f"bucket kind {self.kind!r}")

    def range_members(self) -> list[tuple[Column, str]]:
        """(membership condition, bucket key) per range of a
        range-family level (``range`` / ``date_range`` /
        ``geo_distance``) — shared by the single-membership CASE
        chain (disjoint ranges) and the multi-membership explode
        (overlapping ranges, round 12: ES puts a doc in EVERY range
        it fits)."""
        b = self.body
        if self.kind == "geo_distance":
            origin = b["origin"]
            val = _haversine_m(
                F.col(b["field"] + ".lat"),
                F.col(b["field"] + ".lon"),
                float(origin["lat"]),
                float(origin["lon"]),
            )
            lit = float
        else:
            val = F.col(b["field"])
            if self.kind == "date_range":
                for r in b["ranges"]:
                    for bk in ("from", "to"):
                        if bk in r and not isinstance(r[bk], int):
                            raise ValueError(
                                "date_range bounds must be epoch millis ints"
                            )
                val = F.unix_millis(val)
            elif self.kind == "ip_range":
                # bounds were normalized to longs in __init__; the
                # string ip column compares through the same octet
                # tree the CIDR query class uses (malformed → NULL
                # key → dropped, the range-family convention)
                val = _ip_col_to_long(val)
            lit = lambda v: v  # noqa: E731 — raw literal, per-kind typing
        out = []
        for r in b["ranges"]:
            cond = F.lit(True)
            if "from" in r:
                cond = cond & (val >= F.lit(lit(r["from"])))
            if "to" in r:
                cond = cond & (val < F.lit(lit(r["to"])))
            key = r.get("key", f"{r.get('from', '*')}-{r.get('to', '*')}")
            out.append((cond, key))
        return out


def _filters_names_arr(fbody: dict) -> Column:
    """The per-doc MATCHING-FILTER-NAMES array of a ``filters`` agg —
    one entry per filter whose full query-DSL body the doc satisfies;
    ES ``other_bucket`` turns the empty array into the other-bucket
    singleton so unmatched docs land somewhere. Shared by the root
    inner-explode path and the non-root multi-membership explode
    (round 12)."""
    arr = F.array_compact(
        F.array(
            *[
                F.when(_false_safe(compile_query(fq)), F.lit(fname))
                for fname, fq in fbody["filters"].items()
            ]
        )
    )
    if fbody.get("other_bucket") or "other_bucket_key" in fbody:
        other = str(fbody.get("other_bucket_key", "_other_"))
        if other in fbody["filters"]:
            raise ValueError(
                f"other_bucket_key {other!r} collides with a filter name"
            )
        arr = F.when(F.size(arr) == 0, F.array(F.lit(other))).otherwise(arr)
    return arr


def _ranges_overlap(ranges) -> bool:
    """True when any two ranges share points (from-inclusive /
    to-exclusive) — ES then puts a doc in EVERY matching range, which
    a single-membership CASE chain cannot express."""
    for r in ranges:
        for bk in ("from", "to"):
            if bk in r and not isinstance(r[bk], (int, float)):
                return False  # non-numeric bound: the kind's own check raises
    ordered = sorted(
        ranges,
        key=lambda r: (
            float("-inf") if "from" not in r else float(r["from"])
        ),
    )
    for a, b in zip(ordered, ordered[1:]):
        a_to = float(a["to"]) if "to" in a else float("inf")
        b_from = float(b["from"]) if "from" in b else float("-inf")
        if b_from < a_to:
            return True
    return False


def _ranges_disjoint_or_raise(ranges, kind: str) -> None:
    """Guard for the SINGLE-membership consumers of a range key
    (composite pagination, streamable aggs, top_hits plans): a CASE
    chain silently first-matches overlapping ranges, so they raise.
    ``compile_aggs`` itself supports overlap via the multi-membership
    explode (round 12) and bypasses key_expr for such levels."""
    if _ranges_overlap(ranges):
        raise ValueError(
            f"{kind} ranges overlap: ES multi-membership is supported "
            "by compile_aggs/search_aggs only — composite/streaming/"
            "top_hits plans are single-membership"
        )


#: ES auto_date_histogram interval ladder (public rounding table):
#: the chooser walks it coarser until the estimated bucket count fits
#: the target. Entries: ("fixed", interval_string) or
#: ("calendar", unit) — month/quarter/year count with conservative
#: approximate widths (31/92/366 days), like ES's own estimator.
_AUTO_DH_LADDER = (
    ("fixed", "1s"), ("fixed", "5s"), ("fixed", "10s"), ("fixed", "30s"),
    ("fixed", "1m"), ("fixed", "5m"), ("fixed", "10m"), ("fixed", "30m"),
    ("fixed", "1h"), ("fixed", "3h"), ("fixed", "12h"),
    ("calendar", "day"), ("fixed", "7d"),
    ("calendar", "month"), ("calendar", "quarter"), ("calendar", "year"),
)
_AUTO_DH_APPROX_MS = {
    "day": 86_400_000,
    "month": 31 * 86_400_000,
    "quarter": 92 * 86_400_000,
    "year": 366 * 86_400_000,
}


def _auto_dh_choice(lo_ms: int, hi_ms: int, target: int):
    """Smallest ladder interval whose epoch-grid bucket count over
    [lo, hi] is ≤ target. Returns (body_fragment, interval_label)."""
    for kind, spec in _AUTO_DH_LADDER:
        if kind == "fixed":
            w = _fixed_ms(spec)
            n = (hi_ms // w) - (lo_ms // w) + 1
            if n <= target:
                return {"fixed_interval": spec}, spec
        else:
            w = _AUTO_DH_APPROX_MS[spec]
            n = (hi_ms - lo_ms) // w + 1
            if n <= target:
                return {"calendar_interval": spec}, spec
    raise ValueError(
        f"auto_date_histogram: span {hi_ms - lo_ms} ms exceeds the "
        f"ladder at target {target} (coarsest unit is 'year')"
    )


def _fixed_ms(spec: str) -> int:
    m = re.fullmatch(r"(\d+)(ms|s|m|h|d)", spec)
    if not m:
        raise ValueError(f"fixed_interval {spec!r}")
    return int(m.group(1)) * _FIXED_UNIT_MS[m.group(2)]


#: mean earth radius in meters — the sphere ES/Lucene's haversine uses
EARTH_RADIUS_M = 6371008.7714


def _distance_m(spec: str) -> float:
    """ES distance string → meters ('100km', '250m', '10mi')."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*(km|mi|m)", str(spec))
    if not m:
        raise ValueError(f"distance {spec!r}")
    mult = {"m": 1.0, "km": 1000.0, "mi": 1609.344}[m.group(2)]
    return float(m.group(1)) * mult


def _haversine_m(lat: Column, lon: Column, clat: float, clon: float) -> Column:
    """Haversine meters from each row's (lat, lon) to a literal
    center. Tree: a = sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2);
    d = 2R·asin(√a) — spelled identically in the oracle SQL."""
    dphi = F.radians(lat - F.lit(clat)) / F.lit(2.0)
    dlmb = F.radians(lon - F.lit(clon)) / F.lit(2.0)
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat))
        * F.cos(F.radians(F.lit(clat)))
        * F.sin(dlmb)
        * F.sin(dlmb)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


#: geohash base-32 alphabet (0-9 + b..z minus a,i,l,o) — the public
#: Niemeyer encoding ES's geohash_grid keys use
_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_expr(lat: Column, lon: Column, precision: int) -> Column:
    """Geohash of a (lat, lon) pair as ONE bit-interleave expression:
    5·p bits alternate lon/lat starting with lon at the MSB; each
    axis's cell index is a single floor of the scaled coordinate
    (equivalent to the textbook bisection), the interleave is an
    unrolled OR of shifted bits (≤ 60 terms at p=12 — a fixed-size
    JVM expression tree, no UDF), and the oracle SQL spells the
    IDENTICAL tree so both engines round the same IEEE ops."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    nbits = 5 * precision
    n_lon = (nbits + 1) // 2
    n_lat = nbits // 2
    lon_i = F.least(
        F.floor(
            (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2 ** n_lon))
        ).cast("long"),
        F.lit(2 ** n_lon - 1),
    )
    lat_i = F.least(
        F.floor(
            (lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(2 ** n_lat))
        ).cast("long"),
        F.lit(2 ** n_lat - 1),
    )
    morton = F.lit(0).cast("long")
    for j in range(nbits):
        if j % 2 == 0:
            src, bi = lon_i, n_lon - 1 - j // 2
        else:
            src, bi = lat_i, n_lat - 1 - j // 2
        bit = F.shiftright(src, bi).bitwiseAND(F.lit(1))
        morton = morton.bitwiseOR(F.shiftleft(bit, nbits - 1 - j))
    chars = [
        F.element_at(
            F.lit(list(_GEOHASH_B32)),
            (
                F.shiftright(morton, 5 * (precision - 1 - c))
                .bitwiseAND(F.lit(31))
                + F.lit(1)
            ).cast("int"),
        )
        for c in range(precision)
    ]
    valid = (
        lat.isNotNull()
        & lon.isNotNull()
        & (lat >= F.lit(-90.0))
        & (lat <= F.lit(90.0))
        & (lon >= F.lit(-180.0))
        & (lon <= F.lit(180.0))
    )
    return F.when(valid, F.concat(*chars))


def _geotile_expr(lat: Column, lon: Column, zoom: int) -> Column:
    """Web-Mercator tile key ``"z/x/y"`` (the OSM/slippy scheme ES's
    ``geotile_grid`` emits): ``x = ⌊(lon+180)/360·2^z⌋``, ``y`` from
    the Mercator projection of the latitude. The Mercator fraction is
    rounded to 12 decimals BEFORE the floor in both engines: tan/ln
    may differ by an ulp between JVM Math and libm, and an ulp at a
    tile boundary would flip the floor — 12-decimal rounding removes
    that while being far finer than any real coordinate. Latitudes
    beyond the Mercator limit (±85.05113°) clamp into the edge tiles
    as ES does; NULL/out-of-range points get a NULL key."""
    if not 0 <= zoom <= 29:
        raise ValueError("geotile precision must be in 0..29")
    n = F.lit(float(2 ** zoom))
    max_i = F.lit(2 ** zoom - 1)
    zero = F.lit(0).cast("long")
    x = F.greatest(
        zero,
        F.least(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("long"),
            max_i,
        ),
    )
    # clamp BEFORE projecting: tan/1-over-cos explode numerically at
    # the poles (ln of a near-zero/negative sum → NaN), and ES puts
    # polar docs in the edge tiles anyway
    lat_c = F.greatest(
        F.lit(-85.05112878), F.least(F.lit(85.05112878), lat)
    )
    rad = F.radians(lat_c)
    merc = F.round(
        (
            F.lit(1.0)
            - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi)
        )
        / F.lit(2.0)
        * n,
        12,
    )
    y = F.greatest(zero, F.least(F.floor(merc).cast("long"), max_i))
    valid = (
        lat.isNotNull()
        & lon.isNotNull()
        & (lat >= F.lit(-90.0))
        & (lat <= F.lit(90.0))
        & (lon >= F.lit(-180.0))
        & (lon <= F.lit(180.0))
    )
    return F.when(
        valid,
        F.concat_ws(
            "/", F.lit(str(zoom)), x.cast("string"), y.cast("string")
        ),
    )


def _offset_ms(spec: str) -> int:
    """ES date_histogram ``offset``: a signed duration ('+6h', '-30m')
    shifting every bucket boundary."""
    m = re.fullmatch(r"([+-])?(\d+)(ms|s|m|h|d)", str(spec))
    if not m:
        raise ValueError(f"offset {spec!r}")
    ms = int(m.group(2)) * _FIXED_UNIT_MS[m.group(3)]
    return -ms if m.group(1) == "-" else ms


def _parse_chain(aggs: dict) -> list[_Level]:
    """Flatten the nested agg tree into a single bucket chain with
    per-level metric attachments. Exactly one bucket agg per level
    (sibling bucket aggs would need independent rollups — run
    ``compile_aggs`` once per sibling)."""
    levels: list[_Level] = []
    node = aggs
    while node:
        bucket = None
        metrics: list[tuple[str, dict]] = []
        pipes: list[tuple[str, str, dict]] = []
        sib_pipes: list[tuple[str, str, dict]] = []
        top_hits = None
        bucket_sort = None
        selectors: list[dict] = []
        child = None
        for name, spec in node.items():
            kinds = [k for k in spec if k in _BUCKET_KINDS]
            mkinds = [k for k in spec if k in _METRIC_KINDS]
            pkinds = [k for k in spec if k in _PIPELINE_PARENT]
            skinds = [k for k in spec if k in _PIPELINE_SIBLING]
            if "bucket_sort" in spec:
                if bucket_sort is not None:
                    raise ValueError("one bucket_sort per bucket level")
                bucket_sort = spec["bucket_sort"]
                continue
            if "bucket_selector" in spec:
                selectors.append(spec["bucket_selector"])
                continue
            if kinds:
                if bucket is not None:
                    raise ValueError(
                        "one bucket agg per level; run sibling buckets "
                        "as separate compile_aggs calls"
                    )
                bucket = _Level(name, kinds[0], spec[kinds[0]])
                child = spec.get("aggs")
            elif mkinds:
                metrics.append((name, spec))
            elif pkinds:
                pipes.append((name, pkinds[0], spec[pkinds[0]]))
            elif skinds:
                sib_pipes.append((name, skinds[0], spec[skinds[0]]))
            elif "top_hits" in spec:
                if top_hits is not None:
                    # same-node duplicates would silently last-win;
                    # the cross-level duplicate raises in compile_aggs
                    raise ValueError(
                        "one top_hits section per agg node"
                    )
                top_hits = (name, spec["top_hits"])
            else:
                raise ValueError(f"unsupported agg {name!r}: {sorted(spec)}")
        if bucket is None:
            # pure-metric level: everything attaches to the PARENT bucket
            if not levels:
                raise ValueError(
                    "top-level metric aggs without a bucket: aggregate "
                    "directly with df.agg"
                )
            if sib_pipes:
                raise ValueError(
                    "sibling *_bucket pipeline has no sibling bucket agg "
                    "in its node"
                )
            levels[-1].metrics.extend(metrics)
            levels[-1].pipelines.extend(pipes)
            levels[-1].top_hits = top_hits
            if bucket_sort is not None:
                levels[-1].bucket_sort = bucket_sort
            levels[-1].selectors.extend(selectors)
            break
        if bucket.kind == "nested" and sum(
            1 for lv in levels if lv.kind == "nested"
        ) >= 2:
            # round 14 lifts the one-nested bound to TWO re-basings
            # (outer + inner explode with stacked representative
            # masks — PARITY #22); a third would stack another
            # explode the same way but no ES mapping realistically
            # nests three levels deep — keep it a loud bound
            raise ValueError("at most two nested levels per agg chain")
        levels.append(bucket)
        node = child
        # metrics/pipelines beside this bucket belong to the PARENT
        if metrics or top_hits or pipes or sib_pipes or bucket_sort or selectors:
            if len(levels) >= 2:
                levels[-2].metrics.extend(metrics)
                levels[-2].pipelines.extend(pipes)
                levels[-2].sibling_pipes.extend(sib_pipes)
                if top_hits:
                    levels[-2].top_hits = top_hits
                if bucket_sort is not None:
                    levels[-2].bucket_sort = bucket_sort
                levels[-2].selectors.extend(selectors)
            else:
                raise ValueError(
                    "metric/pipeline aggs beside the root bucket have no "
                    "parent bucket to attach to"
                )
    # top_hits may sit at ANY single level of the chain (round 14,
    # VERDICT r13 Next #4 lifts the r10 innermost-only bound):
    # compile_aggs dispatches the leaf form to _top_hits_plan and
    # the non-leaf form to _top_hits_nonleaf_plan; multiple top_hits
    # sections raise there.
    return levels


def _metric_cols(
    levels: list[_Level],
    explode_i: int | None = None,
    explode_i2: int | None = None,
):
    """(column name, raw agg expr, attachment level) triples. Nullable
    numeric metrics are emitted as DOUBLE so the cross-engine pandas
    dtype is stable (a nullable int64 silently becomes float64).

    ``explode_i``: 1-based index of the chain's multi-membership level
    (nested object explode, or an overlapping-range explode — round
    12), if any. Levels ABOVE it aggregate PARENT-DOC fields over a
    frame the explode multiplied, so their metric inputs are masked to
    the one representative row per parent (``_nested_rep``) — an
    unmasked sum would count each doc once per membership.
    ``explode_i2`` (round 14, nested-inside-nested): the inner nested
    explode's level — masks STACK, so a level above both explodes
    masks to ``rep & rep2`` (one row per doc) and a level between
    them to ``rep2`` (one row per outer object)."""
    out = []
    for lvl_no, lvl in enumerate(levels, start=1):
        mask = (
            F.col("_nested_rep")
            if explode_i is not None and lvl_no < explode_i
            else None
        )
        if explode_i2 is not None and lvl_no < explode_i2:
            rep2 = F.col("_nested_rep2")
            mask = rep2 if mask is None else (mask & rep2)

        def _m(c, _mask=mask):
            return F.when(_mask, c) if _mask is not None else c

        for name, spec in lvl.metrics:
            (kind,) = [k for k in spec if k in _METRIC_KINDS]
            b = spec[kind]
            if kind == "reverse_nested":
                # ES reverse_nested (round 12, VERDICT r11 Next #3):
                # inside the nested scope, re-base onto PARENT docs —
                # doc_count = distinct parents contributing ≥1 object
                # to this bucket. Back-to-root form only; sub-aggs
                # over parent fields would need a second rollup.
                if b:
                    raise ValueError(
                        "reverse_nested supports the back-to-root form "
                        "({}) only"
                    )
                if explode_i is None or lvl_no < explode_i:
                    raise ValueError(
                        "reverse_nested must sit at or below the "
                        "chain's nested level"
                    )
                out.append((
                    f"{name}_doc_count",
                    F.count_distinct(F.col("_nested_parent")).cast("double"),
                    lvl_no,
                ))
                # round 13 (closing the r12 doc_count-only bound):
                # sub-aggs over PARENT fields — each parent must
                # count ONCE per bucket even when several of its
                # objects land there, so duplicate-sensitive inputs
                # mask to the per-(bucket, parent) representative
                # row compile_aggs marked (`_rnrep<level>`, one
                # raw-data-sized window — added only when requested)
                for sname, sspec in (spec.get("aggs") or {}).items():
                    (skind,) = [k for k in sspec if k in _METRIC_KINDS]
                    if skind not in (
                        "avg", "sum", "min", "max",
                        "value_count", "cardinality",
                    ):
                        raise ValueError(
                            f"reverse_nested sub-agg {skind!r}: the "
                            "simple parent-field metrics only "
                            "(avg/sum/min/max/value_count/"
                            "cardinality)"
                        )
                    sc = F.when(
                        F.col(f"_rnrep{lvl_no}"),
                        F.col(sspec[skind]["field"]),
                    )
                    if skind == "avg":
                        se = (
                            F.sum(sc.cast("decimal(18,6)")).cast(
                                "double"
                            )
                            / F.count(sc)
                        )
                    elif skind == "sum":
                        se = F.sum(sc.cast("decimal(18,6)")).cast(
                            "double"
                        )
                    elif skind == "min":
                        se = F.min(sc).cast("double")
                    elif skind == "max":
                        se = F.max(sc).cast("double")
                    elif skind == "value_count":
                        se = F.count(sc).cast("double")
                    else:  # cardinality — dedup-insensitive, but the
                        # mask keeps the input class uniform
                        se = F.count_distinct(sc).cast("double")
                    out.append((f"{name}_{sname}", se, lvl_no))
                continue
            if kind == "_literal":
                # internal: a constant reported at this level (the
                # auto_date_histogram chosen interval)
                out.append((name, F.max(F.lit(b["value"])), lvl_no))
                continue
            if kind == "weighted_avg":
                # Σ(v·w)/Σw, both sums through DECIMAL (the products
                # are exact decimal×decimal), division in double.
                # BOTH sums run over rows where value AND weight are
                # present: ES ignores docs missing either field — an
                # unmasked denominator would count a NULL-value doc's
                # weight the numerator skipped (ADVICE r10 #2)
                v = _m(F.col(b["value"]["field"])).cast("decimal(18,6)")
                w = _m(F.col(b["weight"]["field"])).cast("decimal(18,6)")
                both = v.isNotNull() & w.isNotNull()
                e = (
                    F.sum(F.when(both, v * w)).cast("double")
                    / F.sum(F.when(both, w)).cast("double")
                )
                out.append((name, e, lvl_no))
                continue
            if kind == "rate":
                # ES rate (round 13): per-`unit` rate of a field sum
                # (default), a value_count, or the doc count inside a
                # date_histogram bucket — value = total / (bucket
                # length expressed in `unit`). Calendar buckets use
                # their ACTUAL length (a monthly bucket under unit
                # "day" divides by that month's 28/29/30/31), derived
                # from the bucket KEY by date arithmetic — exact
                # under fixed ±HH:MM offsets, and (round 14) under
                # IANA zones, whose local boundary date resolves
                # through the tzdb with the same real-local-days
                # reading. The divisor tree is one-or-two IEEE
                # divisions of exactly-representable ints, spelled
                # identically in the oracle.
                if lvl.kind != "date_histogram":
                    raise ValueError(
                        "rate needs a date_histogram parent level"
                    )
                pbody = lvl.body
                tkind, tz_off = _tz_parse(pbody.get("time_zone", "UTC"))
                if "fixed_interval" in pbody:
                    wms, wmonths = _fixed_ms(pbody["fixed_interval"]), None
                else:
                    punit = _CALENDAR_UNITS[pbody["calendar_interval"]]
                    if punit in _MONTH_UNITS:
                        wms, wmonths = None, _MONTH_UNITS[punit]
                    else:
                        wms, wmonths = _CALENDAR_WIDTH_MS[punit], None
                if "field" in b:
                    rmode = b.get("mode", "sum")
                    rcol = _m(F.col(b["field"]))
                    if rmode == "sum":
                        total = F.sum(rcol.cast("decimal(18,6)")).cast(
                            "double"
                        )
                    elif rmode == "value_count":
                        total = F.count(rcol).cast("double")
                    else:
                        raise ValueError(f"rate mode {rmode!r}")
                else:
                    total = F.count(_m(F.lit(1))).cast("double")
                unit = b.get("unit")
                if unit is None:
                    # ES default: the histogram's own interval — the
                    # divisor is 1 by construction
                    out.append((f"{name}_r6", F.round(total, 6), lvl_no))
                    continue
                uname = _CALENDAR_UNITS[unit]
                if uname in _MONTH_UNITS:
                    if wmonths is None or wmonths % _MONTH_UNITS[uname]:
                        raise ValueError(
                            f"rate unit {unit!r} needs a month-family "
                            "date_histogram interval it divides"
                        )
                    div = F.lit(float(wmonths // _MONTH_UNITS[uname]))
                else:
                    ums = _CALENDAR_WIDTH_MS[uname]
                    if wms is not None:
                        # constant-width bucket: one IEEE division of
                        # exact ints (Python's / and SQL's / agree
                        # bit-for-bit on correctly-rounded doubles)
                        div = F.lit(float(wms) / float(ums))
                    else:
                        # month-family bucket: day count from the
                        # key's LOCAL boundary date (constant within
                        # the group; max() makes it aggregate-legal).
                        # Round 14 (the r13 "rate under IANA zones"
                        # bound): IANA zones resolve the local date
                        # through the tzdb — the SAME real-local-days
                        # reading as the fixed-offset path (divisor =
                        # that month's 28/29/30/31 local days × the
                        # fixed sub-day unit width; a DST transition
                        # inside the month does NOT shave its hour
                        # off the divisor — the day-count reading,
                        # consistent with round 13's convention and
                        # spelled identically in the oracle).
                        if tkind == "fixed":
                            key_local = F.timestamp_millis(
                                F.col(lvl.name).cast("long")
                                + F.lit(tz_off)
                            )
                        else:
                            key_local = F.from_utc_timestamp(
                                F.timestamp_millis(
                                    F.col(lvl.name).cast("long")
                                ),
                                tz_off,
                            )
                        d = F.to_date(key_local)
                        days = F.datediff(
                            F.add_months(d, wmonths), d
                        ).cast("long")
                        div = F.max(
                            (days * F.lit(86_400_000)).cast("double")
                            / F.lit(float(ums))
                        )
                out.append(
                    (f"{name}_r6", F.round(total / div, 6), lvl_no)
                )
                continue
            if kind == "median_absolute_deviation":
                # ES median_absolute_deviation (round 13): exact
                # median(|x − median(x)|) where ES approximates via
                # t-digest (the established exactness divergence
                # class — percentiles/cardinality). One sorted
                # collect per bucket feeds a pure expression tree:
                # the inner median interpolates lo + 0.5·(hi − lo)
                # exactly as quantile_cont/percentile do (the
                # hash-green convention), the deviations transform +
                # re-sort, the outer median repeats it. The per-
                # bucket value buffer is the same memory class as
                # the exact `percentiles` contract. Each sorted
                # array is LET-BOUND through a one-element-array
                # transform so it is evaluated once per group — a
                # raw reference inside the deviation lambda would
                # re-sort the collect buffer per element (quadratic,
                # observed at sf0.1 before the binding).
                arr = F.sort_array(
                    F.collect_list(_m(F.col(b["field"])).cast("double"))
                )

                def _let(c, fn):
                    return F.transform(F.array(c), fn)[0]

                def _arr_median(a):
                    nn = F.size(a)
                    lo = F.element_at(a, ((nn + 1) / 2).cast("int"))
                    hi = F.element_at(a, (nn / 2 + 1).cast("int"))
                    return F.when(
                        nn % 2 == 1, lo
                    ).otherwise(lo + F.lit(0.5) * (hi - lo))

                mad = _let(
                    arr,
                    lambda a: F.when(
                        F.size(a) > 0,
                        _let(
                            F.sort_array(
                                F.transform(
                                    a,
                                    lambda x: F.abs(x - _arr_median(a)),
                                )
                            ),
                            lambda d: F.round(_arr_median(d), 6),
                        ),
                    ),
                )
                out.append((f"{name}_r6", mad, lvl_no))
                continue
            if kind == "top_metrics":
                # the metric value at the bucket's top-sorted doc —
                # lexicographic max/min over a (sort, metric) struct,
                # so sort ties break on the metric value
                # DETERMINISTICALLY in both engines (plain max_by /
                # arg_max tie-break arbitrarily)
                m = _m(F.col(b["metrics"]["field"]))
                (sfield, sdir), = b["sort"].items()
                s = _m(F.col(sfield))
                # NULL-field structs compare engine-differently: rows
                # missing either side drop from the aggregate instead
                pair = F.when(
                    s.isNotNull() & m.isNotNull(),
                    F.struct(s.alias("s"), m.alias("m")),
                )
                agg = F.max(pair) if sdir == "desc" else F.min(pair)
                out.append((name, agg["m"].cast("double"), lvl_no))
                continue
            if kind == "matrix_stats":
                # ES matrix_stats (round 12): per-field mean/variance
                # + per-pair covariance/correlation, LISTWISE deletion
                # (a row missing ANY of the fields is excluded — ES's
                # contract). The extended_stats discipline: exact
                # decimal sufficient statistics (Σx, and Σx², Σxy via
                # exact decimal×decimal products, their double casts
                # rounded at 4dp against DuckDB's wide-decimal cast
                # ulp), then one FIXED double tree — population
                # var/cov, corr = cov/√(vx·vy) (NULL when either
                # variance is 0). Skewness/kurtosis need Σx³/Σx⁴
                # beyond DECIMAL(38) exactness — documented omission.
                fields = list(b["fields"])
                fcols = [_m(F.col(f)) for f in fields]
                ok = fcols[0].isNotNull()
                for c_ in fcols[1:]:
                    ok = ok & c_.isNotNull()
                decs = [
                    F.when(ok, c_).cast("decimal(18,6)") for c_ in fcols
                ]
                n_c = F.count(F.when(ok, F.lit(1)))
                n_d = n_c.cast("double")
                out.append((f"{name}_count", n_c.cast("double"), lvl_no))
                # the plain sums round at 4dp too: sx·sy products
                # amplify the DuckDB wide-decimal→double cast ulp at
                # larger SFs (the extended_stats Σv² discipline,
                # applied to every moment here). An EXACT decimal
                # moment can land on the 4dp HALF boundary where the
                # engines' round() rules differ (observed: Σxy
                # …81235), so every DERIVED output additionally
                # reports at 6dp (`_r6`, the percentiles convention)
                # — a derived double essentially never lands exactly
                # on a half point.
                s_d = [
                    F.round(F.sum(d_).cast("double"), 4) for d_ in decs
                ]
                var_d = []
                for f, d_, s_ in zip(fields, decs, s_d):
                    s2 = F.round(F.sum(d_ * d_).cast("double"), 4)
                    v_ = F.greatest(
                        (n_d * s2 - s_ * s_) / (n_d * n_d), F.lit(0.0)
                    )
                    var_d.append(v_)
                    out.append(
                        (f"{name}_{f}_mean_r6",
                         F.round(s_ / n_c, 6), lvl_no)
                    )
                    out.append(
                        (f"{name}_{f}_var_r6", F.round(v_, 6), lvl_no)
                    )
                for i in range(len(fields)):
                    for j in range(i + 1, len(fields)):
                        sxy = F.round(
                            F.sum(decs[i] * decs[j]).cast("double"), 4
                        )
                        cov = (n_d * sxy - s_d[i] * s_d[j]) / (n_d * n_d)
                        corr = F.when(
                            (var_d[i] > 0) & (var_d[j] > 0),
                            cov / F.sqrt(var_d[i] * var_d[j]),
                        )
                        pair = f"{name}_{fields[i]}_{fields[j]}"
                        out.append(
                            (f"{pair}_cov_r6", F.round(cov, 6), lvl_no)
                        )
                        out.append(
                            (f"{pair}_corr_r6", F.round(corr, 6), lvl_no)
                        )
                continue
            if kind == "geo_bounds":
                # the bucket's bounding box (round 12): top_left =
                # (max lat, min lon), bottom_right = (min lat, max
                # lon) over fully-present points. Non-wrapping: ES
                # can emit a dateline-crossing box when wrap_longitude
                # is true and the points justify it — that heuristic
                # is not reproducible from plain min/max, so this is
                # the wrap_longitude=false reading (documented).
                latc = _m(F.col(b["field"] + ".lat"))
                lonc = _m(F.col(b["field"] + ".lon"))
                ok = latc.isNotNull() & lonc.isNotNull()
                for sub, e in (
                    ("top", F.max(F.when(ok, latc))),
                    ("bottom", F.min(F.when(ok, latc))),
                    ("left", F.min(F.when(ok, lonc))),
                    ("right", F.max(F.when(ok, lonc))),
                ):
                    out.append((f"{name}_{sub}", e.cast("double"), lvl_no))
                continue
            if kind == "string_stats":
                # count / min_length / max_length / avg_length over
                # the bucket's non-NULL strings, avg through DECIMAL
                # (round 12). ES additionally reports Shannon entropy
                # — a per-character distribution that is not a plain
                # aggregate expression in the one-rollup plan; the
                # entropy column is absent HERE, available via
                # `entropy: true` on a root terms level (round 13 —
                # the dedicated two-groupBy path in search_aggs).
                # show_distribution's probability MAP has no
                # flat-frame shape anywhere and raises.
                if b.get("show_distribution"):
                    raise ValueError(
                        "string_stats show_distribution needs the "
                        "dedicated per-(bucket, char) path: a SINGLE "
                        "root terms level with string_stats as its "
                        "only sub-agg (round 13)"
                    )
                if b.get("entropy"):
                    raise ValueError(
                        "string_stats entropy needs the dedicated "
                        "char-histogram path: a SINGLE root terms "
                        "level with string_stats as its only sub-agg"
                    )
                ln = _m(F.length(F.col(b["field"])))
                out.append(
                    (f"{name}_count", F.count(ln).cast("double"), lvl_no)
                )
                out.append(
                    (f"{name}_min_length", F.min(ln).cast("double"), lvl_no)
                )
                out.append(
                    (f"{name}_max_length", F.max(ln).cast("double"), lvl_no)
                )
                out.append(
                    (
                        f"{name}_avg_length",
                        F.sum(ln.cast("decimal(18,6)")).cast("double")
                        / F.count(ln),
                        lvl_no,
                    )
                )
                continue
            if kind == "geo_centroid":
                # exact-decimal mean PAIR over docs where the point
                # is fully present (ES ignores docs missing the
                # field); flat columns {name}_lat / {name}_lon
                latc = _m(F.col(b["field"] + ".lat"))
                lonc = _m(F.col(b["field"] + ".lon"))
                ok = latc.isNotNull() & lonc.isNotNull()
                cnt = F.count(F.when(ok, F.lit(1)))
                for sub, c_ in (("lat", latc), ("lon", lonc)):
                    out.append((
                        f"{name}_{sub}",
                        F.sum(F.when(ok, c_.cast("decimal(18,6)")))
                        .cast("double") / cnt,
                        lvl_no,
                    ))
                continue
            col = _m(F.col(b["field"]))
            dec = col.cast("decimal(18,6)")
            if kind == "avg":
                e = F.sum(dec).cast("double") / F.count(col)
                out.append((name, e, lvl_no))
            elif kind == "sum":
                out.append((name, F.sum(dec).cast("double"), lvl_no))
            elif kind == "min":
                out.append((name, F.min(col).cast("double"), lvl_no))
            elif kind == "max":
                out.append((name, F.max(col).cast("double"), lvl_no))
            elif kind == "value_count":
                out.append((name, F.count(col).cast("double"), lvl_no))
            elif kind == "cardinality":
                out.append(
                    (name, F.count_distinct(col).cast("double"), lvl_no)
                )
            elif kind == "percentiles":
                for p in b.get("percents", (1, 5, 25, 50, 75, 95, 99)):
                    out.append(
                        (
                            f"{name}_p{int(p)}_r6",
                            F.round(F.percentile(col, F.lit(p / 100.0)), 6),
                            lvl_no,
                        )
                    )
            elif kind == "boxplot":
                # ES boxplot (round 13 — Kibana Lens's distribution
                # tile): min/q1/q2/q3/max, the quartiles through the
                # same EXACT linear interpolation as `percentiles`
                # (ES uses t-digest — the established exactness
                # divergence class)
                out.append(
                    (f"{name}_min", F.min(col).cast("double"), lvl_no)
                )
                for lbl, p in (("q1", 0.25), ("q2", 0.5), ("q3", 0.75)):
                    out.append(
                        (
                            f"{name}_{lbl}_r6",
                            F.round(F.percentile(col, F.lit(p)), 6),
                            lvl_no,
                        )
                    )
                out.append(
                    (f"{name}_max", F.max(col).cast("double"), lvl_no)
                )
            elif kind == "percentile_ranks":
                # EXACT percentile ranks (round 12): the percent of
                # bucket values <= each threshold — ES's t-digest
                # interpolates between neighbors, this reports the
                # exact empirical CDF (same divergence class as the
                # exact `percentiles`/`cardinality` contract); NULL
                # values drop from numerator and denominator alike
                for i, t in enumerate(b["values"]):
                    out.append(
                        (
                            f"{name}_pr{i}_r6",
                            F.round(
                                F.lit(100.0)
                                * F.count(
                                    F.when(col <= F.lit(float(t)), F.lit(1))
                                )
                                / F.count(col),
                                6,
                            ),
                            lvl_no,
                        )
                    )
            elif kind == "stats":
                out.append((f"{name}_count", F.count(col).cast("double"), lvl_no))
                out.append((f"{name}_min", F.min(col).cast("double"), lvl_no))
                out.append((f"{name}_max", F.max(col).cast("double"), lvl_no))
                out.append((f"{name}_sum", F.sum(dec).cast("double"), lvl_no))
                out.append(
                    (
                        f"{name}_avg",
                        F.sum(dec).cast("double") / F.count(col),
                        lvl_no,
                    )
                )
            elif kind == "extended_stats":
                # stats + sum_of_squares / population variance / std /
                # ±sigma bounds. Exact decimal sufficient statistics
                # (Σv, Σv² — decimal×decimal products are exact) feed
                # one FIXED double tree, so engines can't disagree:
                # var = (n·Σv² − (Σv)²)/n², std = √var (sqrt is
                # correctly rounded per IEEE 754 everywhere), bounds =
                # avg ± sigma·std (ES default sigma 2).
                sigma = float(b.get("sigma", 2.0))
                dec2 = col.cast("decimal(18,6)") * col.cast("decimal(18,6)")
                n_d = F.count(col).cast("double")
                s_d = F.sum(dec).cast("double")
                # Σv² goes through round(·, 4) — exact for ≤2dp inputs
                # — because DuckDB's wide-decimal→double cast is not
                # correctly rounded (off by an ulp at 1e8 magnitudes);
                # every derived double consumes the ROUNDED moment so
                # both engines run the identical IEEE tree end-to-end
                s2_d = F.round(F.sum(dec2).cast("double"), 4)
                avg_d = s_d / F.count(col)
                # clamp: the rounded Σv² can push (n·Σv² − (Σv)²)
                # slightly NEGATIVE on near-constant buckets, turning
                # std/bounds into NaN where ES reports 0 — greatest(·,
                # 0) in BOTH engines (ADVICE r10 #3)
                var_d = F.greatest(
                    (n_d * s2_d - s_d * s_d) / (n_d * n_d), F.lit(0.0)
                )
                std_d = F.sqrt(var_d)
                out.append((f"{name}_count", F.count(col).cast("double"), lvl_no))
                out.append((f"{name}_min", F.min(col).cast("double"), lvl_no))
                out.append((f"{name}_max", F.max(col).cast("double"), lvl_no))
                out.append((f"{name}_sum", s_d, lvl_no))
                out.append((f"{name}_avg", avg_d, lvl_no))
                out.append((f"{name}_sos", s2_d, lvl_no))
                out.append((f"{name}_var", var_d, lvl_no))
                out.append((f"{name}_std", std_d, lvl_no))
                out.append(
                    (f"{name}_std_upper", avg_d + F.lit(sigma) * std_d, lvl_no)
                )
                out.append(
                    (f"{name}_std_lower", avg_d - F.lit(sigma) * std_d, lvl_no)
                )
        # moving_percentiles (round 13): the window merges the RAW
        # value multisets of the trailing buckets (ES merges the
        # buckets' t-digests; the exact reading needs the values),
        # so each referenced percentiles agg ALSO collects its
        # bucket's values into a hidden array column — dropped from
        # the final projection, NULL on gap-synthesized rows (their
        # empty buckets contribute nothing, exactly ES's merge of an
        # empty digest).
        seen_hidden: set[str] = set()
        for _pn, _pk, _ps in lvl.pipelines:
            if _pk != "moving_percentiles":
                continue
            path = _ps["buckets_path"]
            mspec = dict(lvl.metrics).get(path)
            if not mspec or "percentiles" not in mspec:
                raise ValueError(
                    "moving_percentiles buckets_path must reference a "
                    "sibling percentiles agg at the same level"
                )
            hid = f"_hmp{lvl_no}_{path}"
            if hid in seen_hidden:
                continue
            seen_hidden.add(hid)
            out.append((
                hid,
                F.collect_list(
                    _m(F.col(mspec["percentiles"]["field"])).cast(
                        "double"
                    )
                ),
                lvl_no,
            ))
    return out


def _propagate_ancestor_verdicts(
    frame: DataFrame,
    key_names: list[str],
    idxs: list[int],
    src_fmt: str,
    anc_fmt: str,
    establish_partitioning: bool = True,
) -> DataFrame:
    """Per-level verdict columns (``src_fmt.format(i)`` — non-null only
    on level-``i`` rows) → descendant survival filter via prefix-max
    windows: a level-``i`` verdict reaches its descendants through
    ``max() over (partition by key_names[:i])``.

    Planned as at most ONE exchange + ONE local sort for ALL levels
    (guide §2.4 "two operations keyed the same way can share one
    exchange"): hash partitioning by the FIRST key satisfies every
    prefix window's clustering (its expressions are a subset of each
    prefix), and one local sort by the LONGEST prefix satisfies every
    window's required ordering PROVIDED the windows are applied
    longest-prefix-first — ascending application re-sorted per level
    because (k1) ordering does not cover (k1, k2), which is where 5 of
    es_nested_inside_nested's 8 window sorts came from (r17 plan)."""
    if not idxs:
        return frame
    if len(idxs) > 1:
        if establish_partitioning:
            frame = frame.repartition(key_names[0])
        frame = frame.sortWithinPartitions(*key_names[: max(idxs)])
    surv = F.lit(True)
    for i in sorted(idxs, reverse=True):
        frame = frame.withColumn(
            anc_fmt.format(i),
            F.max(F.col(src_fmt.format(i))).over(
                Window.partitionBy(*key_names[:i])
            ),
        )
        surv = surv & (
            (F.col("level") < i) | (F.col(anc_fmt.format(i)) == 1)
        )
    return frame.filter(surv).drop(
        *[src_fmt.format(i) for i in idxs],
        *[anc_fmt.format(i) for i in idxs],
    )


def compile_aggs(df: DataFrame, aggs: dict) -> DataFrame:
    """Compile an ES aggregation tree over ``df`` into a flat bucket
    frame: ``(level, <key per bucket level>, doc_count, <metrics>)``
    — one output row per bucket at every level of the ES response
    (keys below a row's level are NULL, like a ROLLUP row). No
    level-0 grand-total row is emitted (the ES response has none).
    """
    levels = _parse_chain(aggs)
    th_is = [i for i, lv in enumerate(levels, start=1) if lv.top_hits]
    if len(th_is) > 1:
        raise ValueError("one top_hits section per agg chain")
    if th_is and th_is[0] < len(levels):
        # top_hits under a NON-LEAF bucket (round 14, VERDICT r13
        # Next #4 — "top N docs per service, with the daily
        # sub-buckets too"): the response is the regular flat bucket
        # frame UNIONED with doc-shaped rows at the carrying level —
        # rank + _source columns non-NULL on doc rows, doc_count /
        # metrics non-NULL on bucket rows.
        return _top_hits_nonleaf_plan(df, levels, th_is[0], aggs)
    if levels and levels[-1].top_hits:
        return _top_hits_plan(df, levels)
    n = len(levels)
    key_names = [lvl.name for lvl in levels]

    base = df
    for lvl in levels:
        if lvl.kind == "auto_date_histogram":
            # ES's adaptive Kibana default (round 11): the interval
            # is DATA-DEPENDENT — one bounded min/max collect over
            # the (already filtered) frame picks the smallest ladder
            # interval fitting the buckets target, then the level IS
            # a regular date_histogram at that interval; the choice
            # is reported as a literal `<name>_interval` column so
            # the oracle hash verifies it. The extra scan is
            # parquet-statistics-cheap (min/max pushdown).
            field = lvl.body["field"]
            target = int(lvl.body.get("buckets", 10))
            if target < 1:
                raise ValueError("auto_date_histogram buckets must be >= 1")
            row = df.agg(
                F.unix_millis(F.min(field)).alias("lo"),
                F.unix_millis(F.max(field)).alias("hi"),
            ).first()
            if row.lo is None:
                body, label = {"fixed_interval": "1h"}, "1h"  # empty frame
            else:
                body, label = _auto_dh_choice(row.lo, row.hi, target)
            lvl.kind = "date_histogram"
            lvl.body = {"field": field, **body}
            lvl.metrics.insert(
                0,
                (f"{lvl.name}_interval", {"_literal": {"value": label}}),
            )
    # ES nested AGGREGATION (round 11 root-only; round 12 at ANY chain
    # depth + reverse_nested — VERDICT r11 Next #3): aggregate over
    # the array's objects. The array column is REPLACED by one
    # posexplode_outer struct per row, so sub-level field paths
    # ("attrs.k") resolve naturally AND parent keys ride along on
    # every object row. Docs with NULL/empty arrays keep one
    # NULL-object row: it carries the doc into ancestor counts, gets
    # a NULL key at the nested level, and drops there (no objects →
    # no nested bucket). Levels ABOVE the nested level would be
    # object-multiplied, so their doc_count counts only the one
    # REPRESENTATIVE row per parent (_nested_rep = first/only
    # position) and their metric inputs are masked the same way in
    # _metric_cols. reverse_nested (back-to-root doc_count) counts
    # distinct pre-explode parent ids.
    nested_is = [
        i for i, lv in enumerate(levels, start=1) if lv.kind == "nested"
    ]
    nested_i = nested_is[0] if nested_is else None
    # nested-inside-nested (round 14, lifting the r12/PARITY #22
    # bound): a SECOND explode re-bases rows onto inner objects; the
    # representative masks stack — levels above the outer level mask
    # to rep1 & rep2 (one row per DOC), levels between the two mask
    # to rep2 (one row per OUTER object), levels at/below the inner
    # level count inner-object rows
    nested_i2 = nested_is[1] if len(nested_is) > 1 else None
    # multi-membership levels (round 12): a doc can land in SEVERAL
    # buckets of one level — overlapping range-family buckets (ES
    # puts a doc in EVERY matching range) and non-root ``filters``
    # (a doc matches any subset of the filters). Same re-basing
    # problem as nested, solved by the same posexplode_outer
    # machinery (one row per membership, a representative row per
    # doc for ancestor counts/metrics). Root-level filters keep
    # their original inner-explode path below (no ancestors to
    # protect — and that path composes with ONE deeper
    # multi-membership level).
    mm_is = [
        i
        for i, lv in enumerate(levels, start=1)
        if (
            lv.kind in ("range", "date_range", "ip_range",
                        "geo_distance")
            and _ranges_overlap(lv.body["ranges"])
        )
        or (lv.kind == "filters" and i > 1)
        # adjacency_matrix (round 12) is inherently multi-member —
        # every doc lands in each matching filter AND each matching
        # pair intersection — so it always takes the explode, root
        # included
        or lv.kind == "adjacency_matrix"
    ]
    if len(mm_is) > 1 or (mm_is and nested_i is not None):
        raise ValueError(
            "one multi-membership level (nested, overlapping ranges, "
            "or non-root filters) per agg chain"
        )
    explode_i = nested_i if nested_i is not None else (
        mm_is[0] if mm_is else None
    )
    needs_parent = any(
        "reverse_nested" in spec for lv in levels for _, spec in lv.metrics
    )
    if needs_parent and nested_i is None:
        raise ValueError(
            "reverse_nested requires a nested level in the agg chain"
        )
    overlap_key = None
    if nested_i is not None:
        path = levels[nested_i - 1].body["path"]
        if needs_parent:
            # unique per pre-explode row WITHIN one plan execution —
            # all reverse_nested needs (its values never surface, only
            # the per-bucket distinct count does)
            base = base.withColumn(
                "_nested_parent", F.monotonically_increasing_id()
            )
        base = (
            base.select(
                "*",
                F.posexplode_outer(F.col(path)).alias(
                    "_nested_pos", "_nested_obj"
                ),
            )
            .drop(path)
            .withColumnRenamed("_nested_obj", path)
            .withColumn(
                "_nested_rep",
                F.col("_nested_pos").isNull() | (F.col("_nested_pos") == 0),
            )
        )
        if nested_i2 is not None:
            # the inner path is ABSOLUTE (outer.sub — the round-13
            # query-side convention) and must name a DIRECT array
            # field of the outer struct; the exploded inner object
            # SPLICES back into the outer struct via withField so
            # deeper field paths ("p1.p2.k") keep resolving
            # naturally. Outer NULL rows splice into a NULL struct
            # and keep their one ancestor-carrying row (pos2 NULL).
            path2 = levels[nested_i2 - 1].body["path"]
            if not path2.startswith(path + "."):
                raise ValueError(
                    f"inner nested path {path2!r} must be an absolute "
                    f"path under the outer level's {path!r}"
                )
            sub = path2[len(path) + 1:]
            if "." in sub:
                raise ValueError(
                    "the inner nested path must name a direct field "
                    "of the outer path's struct"
                )
            base = (
                base.select(
                    "*",
                    F.posexplode_outer(F.col(path2)).alias(
                        "_nested_pos2", "_nested_obj2"
                    ),
                )
                .withColumn(
                    path, F.col(path).withField(sub, F.col("_nested_obj2"))
                )
                .drop("_nested_obj2")
                .withColumn(
                    "_nested_rep2",
                    F.col("_nested_pos2").isNull()
                    | (F.col("_nested_pos2") == 0),
                )
            )
    elif explode_i is not None:
        # explode the MATCHING-KEYS array (the filters-agg pattern,
        # but outer so non-matching docs still carry one NULL-key row
        # into ancestor counts); this level's key comes from the
        # exploded column instead of key_expr's single-membership CASE
        mm_lvl = levels[explode_i - 1]
        if mm_lvl.kind == "filters":
            arr = _filters_names_arr(mm_lvl.body)
        elif mm_lvl.kind == "adjacency_matrix":
            # ES adjacency_matrix (the Kibana graph agg): one bucket
            # per matching filter plus one per matching PAIR
            # intersection, keys "a" and "a&b" (alphabetical pair
            # order, configurable separator) — ≤ n(n+1)/2 entries,
            # bounded by the filter count like the filters agg
            preds = {
                fn: _false_safe(compile_query(fq))
                for fn, fq in mm_lvl.body["filters"].items()
            }
            names = sorted(preds)
            sep = str(mm_lvl.body.get("separator", "&"))
            entries = [F.when(preds[nm2], F.lit(nm2)) for nm2 in names]
            for a_i in range(len(names)):
                for b_i in range(a_i + 1, len(names)):
                    entries.append(
                        F.when(
                            preds[names[a_i]] & preds[names[b_i]],
                            F.lit(names[a_i] + sep + names[b_i]),
                        )
                    )
            arr = F.array_compact(F.array(*entries))
        else:
            arr = F.array_compact(
                F.array(
                    *[F.when(c, F.lit(k)) for c, k in mm_lvl.range_members()]
                )
            )
        base = base.select(
            "*",
            F.posexplode_outer(arr).alias("_nested_pos", "_mm_key"),
        ).withColumn(
            "_nested_rep",
            F.col("_nested_pos").isNull() | (F.col("_nested_pos") == 0),
        )
        overlap_key = F.col("_mm_key")
    if levels[0].kind == "filters":
        # root filters: no ancestors to protect — the original inner
        # explode (docs matching nothing vanish unless other_bucket
        # synthesizes their row)
        base = base.withColumn(
            levels[0].name, F.explode(_filters_names_arr(levels[0].body))
        )
        key_exprs = [F.col(levels[0].name)] + [
            overlap_key
            if (overlap_key is not None and i == explode_i)
            else lvl.key_expr()
            for i, lvl in enumerate(levels[1:], start=2)
        ]
    else:
        key_exprs = [
            overlap_key
            if (overlap_key is not None and i == explode_i)
            else lvl.key_expr()
            for i, lvl in enumerate(levels, start=1)
        ]

    nested_extra = []
    if explode_i is not None:
        nested_extra.append("_nested_rep")
        if nested_i2 is not None:
            nested_extra.append("_nested_rep2")
        if needs_parent:
            nested_extra.append("_nested_parent")
    base = base.select(
        *[e.alias(nm) for e, nm in zip(key_exprs, key_names)],
        *[c for c in df.columns if c not in key_names],
        *nested_extra,
    )

    # reverse_nested sub-aggs (round 13): a per-(bucket-key-prefix,
    # parent) representative row for each level that asks — one
    # raw-data-sized window per such level (added ONLY when sub-aggs
    # are requested; the plain doc_count form stays window-free).
    # Partition keys include the nested level's key, so every row in
    # a partition already shares the full bucket path — the order is
    # immaterial beyond picking exactly one row.
    for rn_i in sorted({
        lvl_no
        for lvl_no, lv in enumerate(levels, start=1)
        for _, sp in lv.metrics
        if "reverse_nested" in sp and sp.get("aggs")
    }):
        base = base.withColumn(
            f"_rnrep{rn_i}",
            F.row_number().over(
                Window.partitionBy(
                    *key_names[:rn_i], "_nested_parent"
                ).orderBy(F.col("_nested_parent").asc())
            )
            == 1,
        )

    metrics = _metric_cols(levels, explode_i, nested_i2)
    if nested_i2 is not None:
        # three counts from the same pass (round 14): levels above
        # the outer nested level count DOCS (rep1 & rep2 — one row
        # per doc), levels between the explodes count OUTER objects
        # (rep2 — one row per outer object), the inner level and
        # below count inner-object rows — resolved per result row
        count_aggs = [
            F.count(F.lit(1)).alias("_cnt_obj2"),
            F.count(F.when(F.col("_nested_rep2"), F.lit(1))).alias(
                "_cnt_obj"
            ),
            F.count(
                F.when(
                    F.col("_nested_rep") & F.col("_nested_rep2"),
                    F.lit(1),
                )
            ).alias("_cnt_doc"),
        ]
    elif explode_i is not None and explode_i > 1:
        # two counts from the same pass: ancestor levels count parent
        # DOCS (one representative row each), the nested level and
        # below count OBJECT rows — resolved per result row below
        count_aggs = [
            F.count(F.lit(1)).alias("_cnt_obj"),
            F.count(F.when(F.col("_nested_rep"), F.lit(1))).alias(
                "_cnt_doc"
            ),
        ]
    else:
        count_aggs = [F.count(F.lit(1)).alias("doc_count")]
    rolled = (
        base.rollup(*key_names)
        .agg(
            (F.lit(n) - F.bit_count(F.grouping_id())).cast("int").alias("level"),
            *count_aggs,
            *[e.alias(nm) for nm, e, _ in metrics],
        )
        .filter(F.col("level") >= 1)  # ES responses have no global row
    )
    if nested_i2 is not None:
        rolled = rolled.withColumn(
            "doc_count",
            F.when(F.col("level") < explode_i, F.col("_cnt_doc"))
            .when(F.col("level") < nested_i2, F.col("_cnt_obj"))
            .otherwise(F.col("_cnt_obj2")),
        ).select(
            *key_names, "level", "doc_count", *[nm for nm, _, _ in metrics]
        )
    elif explode_i is not None and explode_i > 1:
        rolled = rolled.withColumn(
            "doc_count",
            F.when(
                F.col("level") < explode_i, F.col("_cnt_doc")
            ).otherwise(F.col("_cnt_obj")),
        ).select(
            *key_names, "level", "doc_count", *[nm for nm, _, _ in metrics]
        )
    # ES drops a doc from a bucket LEVEL when its key there is
    # missing / out-of-range / filter-rejected — but the doc still
    # counts in every ANCESTOR bucket (a parent's doc_count/metrics
    # cover all its docs regardless of how children partition them).
    # Pre-filtering the RAW frame would therefore corrupt ancestor
    # levels whenever a non-root level can yield NULL keys — nested
    # filter/missing/range, terms over a nullable field (ADVICE r10
    # #1, the one wrong-answer class found) — so rows flow through
    # the rollup and only RESULT rows whose own grouping set holds a
    # NULL key are dropped: at level L exactly keys 1..L are grouped,
    # keys above L are the rollup's own NULLs and stay exempt.
    for i in range(1, n + 1):
        rolled = rolled.filter(
            (F.col("level") < i) | F.col(key_names[i - 1]).isNotNull()
        )

    # Per-level pruning as WINDOWS over the one bucket frame — never
    # split ``rolled`` into per-level branches: Catalyst pushes a
    # ``level == i`` filter below the Expand and specializes each
    # branch into its OWN full scan of the raw data (3 scans for a
    # 2-level tree, measured), which is exactly the wrong trade at
    # 100 TB. The single-branch form keeps ONE scan + ONE data-sized
    # shuffle; every window below partitions the post-aggregate
    # bucket frame (Spark plans WindowGroupLimit for the rank caps,
    # so top-``size`` prunes before the tiny shuffles, too).
    frame = rolled
    keep_conds: dict[int, Column] = {}
    for i, lvl in enumerate(levels, start=1):
        mdc = int(
            lvl.body.get(
                "min_doc_count",
                1 if lvl.kind in ("terms", "multi_terms") else 0,
            )
        )
        cond = F.col("doc_count") >= mdc if mdc > 0 else None
        if lvl.kind == "rare_terms":
            # ES rare_terms: keep terms appearing in at most
            # max_doc_count docs (default 1) — a doc_count CEILING
            # instead of terms' top-size rank cap; no window needed
            # (ES's CuckooFilter approximation is exact here)
            ceil_cond = F.col("doc_count") <= int(
                lvl.body.get("max_doc_count", 1)
            )
            cond = ceil_cond if cond is None else cond & ceil_cond
        if lvl.kind in ("terms", "multi_terms", "categorize_text"):
            size = int(lvl.body.get("size", 10))
            order = lvl.body.get("order", {"_count": "desc"})
            # ES accepts one criterion or a tie-breaking LIST of them
            crits = order if isinstance(order, list) else [order]
            ocols = []
            for crit in crits:
                (okey, odir), = crit.items()
                if okey == "_count":
                    ocol = F.col("doc_count")
                elif okey == "_key":
                    ocol = F.col(lvl.name)
                else:
                    ocol = F.col(okey)  # a sibling metric at this level
                ocols.append(ocol.desc() if odir == "desc" else ocol.asc())
            # partitioning by (level, parent prefix) isolates this
            # level's buckets: rows of other levels rank in their own
            # partitions and are masked out below
            w = Window.partitionBy(F.col("level"), *key_names[: i - 1]).orderBy(
                *ocols, F.col(lvl.name).asc()
            )
            rank_cond = F.row_number().over(w) <= size
            cond = rank_cond if cond is None else cond & rank_cond
        if cond is None:
            # trivially-true keep (nested / gap-filled histogram levels:
            # no min_doc_count, no rank cap, no ceiling): its _keep{i}
            # would be constant 1 on level-i rows, and the rollup's
            # grouping-set closure guarantees the level-i ancestor row
            # of every deeper row EXISTS (the same source rows that
            # produced the descendant bucket produced its prefix
            # bucket, and the null-key filters above drop descendants
            # exactly when they drop the ancestor) — so the _anc{i}
            # prefix-max is constant 1 on surviving rows too. Skipping
            # both removes one Window+Sort pair per such level
            # (es_nested_inside_nested: 2 of its 8 window sorts).
            continue
        keep_conds[i] = cond
    keep_idx = sorted(keep_conds)

    def _with_keep(fr: DataFrame, i: int) -> DataFrame:
        return fr.withColumn(
            f"_keep{i}",
            F.when(F.col("level") == i, keep_conds[i].cast("int")),
        )

    # Window planning (guide §2.4 "two operations keyed the same way
    # can share one exchange"): every window of this pass EXCEPT the
    # level-1 rank (whose partitioning is (level) alone) clusters by a
    # key set CONTAINING key_names[0] — the level>=2 ranks partition by
    # (level, k1, ...) and every ancestor prefix-max by (k1, ...), and
    # hash(k1) satisfies a clustering it is a subset of. So: apply the
    # level-1 rank first (its own (level)-hash exchange), then ONE
    # explicit repartition by k1 carries the level>=2 ranks AND, after
    # one local sort by the longest prefix, every prefix-max window
    # (applied longest-first so each required ordering is a prefix of
    # the established sort). r17 left this to the planner, which
    # re-sorted per window: es_nested_inside_nested spent 8 Window/Sort
    # pairs where 6 windows over 4 sorts suffice.
    if 1 in keep_conds:
        frame = _with_keep(frame, 1)
    later = [i for i in keep_idx if i >= 2]
    # windows that hash(k1) can carry: level>=2 ranks + one prefix-max
    # per surviving keep level
    if len(later) + len(keep_idx) > 1:
        frame = frame.repartition(key_names[0])
    for i in later:
        frame = _with_keep(frame, i)
    # a bucket survives iff it AND every ancestor bucket survives;
    # the ancestor's verdict reaches its descendants through a window
    # over the shared key prefix (the level-j ancestor is the only
    # row in that partition with a non-null _keep{j})
    frame = _propagate_ancestor_verdicts(
        frame, key_names, keep_idx, "_keep{}", "_anc{}",
        establish_partitioning=False,  # the k1 repartition above holds
    )

    # gap levels shape the pipeline/bucket_sort ordering below, so
    # resolve them first: a gap-filled level's POSITIONAL pipelines
    # (moving_fn / serial_diff) and bucket_sort run AFTER the fill
    # (round 12, VERDICT r11 Next #8) so empty buckets occupy window
    # positions / ranks exactly as ES's min_doc_count-0 response
    gap_levels = [
        i
        for i, lvl in enumerate(levels, start=1)
        if lvl.kind in ("date_histogram", "histogram")
        and (
            lvl.body.get("min_doc_count") == 0
            or "extended_bounds" in lvl.body
        )
    ]
    gap_set = set(gap_levels)

    pipe_cols = _apply_pipelines_windows(
        frame, levels, key_names, defer_positional=gap_set
    )
    frame = pipe_cols.frame

    # bucket_sort: like every ES pipeline agg it runs AFTER the
    # non-pipeline aggs (and here after the other pipelines, so it can
    # sort by their columns) — another level-masked rank window over
    # the surviving bucket frame, keeping ranks (from, from+size];
    # descendants of a truncated bucket drop through the same
    # prefix-window propagation as the first survival pass.  The SORT
    # half only affects ES's response ordering — this flat frame is
    # canonically ordered by (level, keys) below — so the observable
    # effect is the from/size truncation.  Gap-filled levels sort
    # AFTER the fill (see below) so empty buckets rank too.
    bs_levels = [i for i, lvl in enumerate(levels, start=1) if lvl.bucket_sort]

    def _apply_bucket_sort(frame, idxs):
        for i in idxs:
            lvl = levels[i - 1]
            bs = lvl.bucket_sort
            ocols = []
            for s in bs.get("sort", []):
                if isinstance(s, str):
                    path, order = s, "asc"
                else:
                    (path, spec), = s.items()
                    order = (
                        spec.get("order", "asc")
                        if isinstance(spec, dict)
                        else spec
                    )
                c = (
                    F.col(lvl.name)
                    if path == "_key"
                    else _bucket_path_col(path)
                )
                ocols.append(c.desc() if order == "desc" else c.asc())
            w = Window.partitionBy(
                F.col("level"), *key_names[: i - 1]
            ).orderBy(*ocols, F.col(lvl.name).asc())
            rk = F.row_number().over(w)
            frm = int(bs.get("from", 0))
            keep = rk > frm
            if "size" in bs:
                keep = keep & (rk <= frm + int(bs["size"]))
            frame = frame.withColumn(
                f"_bs{i}", F.when(F.col("level") == i, keep.cast("int"))
            )
        return _propagate_ancestor_verdicts(
            frame, key_names, idxs, "_bs{}", "_bsa{}"
        )

    # bucket_selector (round 12): the HAVING clause for buckets —
    # runs after the other pipelines (so scripts can reference their
    # columns) and BEFORE bucket_sort (ES prunes, then the survivors
    # compete for from/size); a dropped bucket takes its descendants
    # through the same prefix-window propagation. Like bucket_sort,
    # gap-filled levels select AFTER the fill (empty buckets'
    # NULL metric values RETAIN the bucket unevaluated under the
    # default gap_policy 'skip' — ES's BucketSelectorPipeline-
    # Aggregator behavior, round-13 ADVICE fix — and read as 0
    # under insert_zeros).
    sel_levels = [
        i for i, lvl in enumerate(levels, start=1) if lvl.selectors
    ]

    def _apply_bucket_selector(frame, idxs):
        for i in idxs:
            lvl = levels[i - 1]
            keep = F.lit(True)
            for spec in lvl.selectors:
                gp = spec.get("gap_policy", "skip")
                if gp not in ("skip", "insert_zeros"):
                    raise ValueError(f"gap_policy {gp!r}")
                script = spec["script"]
                srcs = []
                for var, path in sorted(
                    spec["buckets_path"].items(),
                    key=lambda kv: -len(kv[0]),
                ):
                    col_name = "doc_count" if path == "_count" else path
                    if gp == "insert_zeros":
                        col_name = f"coalesce({col_name}, 0.0)"
                    else:
                        srcs.append(col_name)
                    script = re.sub(
                        rf"params\.{re.escape(var)}\b", col_name, script
                    )
                if re.search(r"\bparams\.", script):
                    raise ValueError(
                        f"bucket_selector script {spec['script']!r}: "
                        "undeclared params.* variable (round-13 ADVICE)"
                    )
                pred = F.coalesce(
                    F.expr(script).cast("boolean"), F.lit(False)
                )
                if srcs:
                    # ES GapPolicy.SKIP: a bucket whose buckets_path
                    # value is missing is RETAINED without evaluating
                    # the script (BucketSelectorPipelineAggregator) —
                    # round-13 ADVICE fix; insert_zeros coalesced the
                    # sources above so it evaluates normally
                    any_null = F.expr(srcs[0]).isNull()
                    for c in srcs[1:]:
                        any_null = any_null | F.expr(c).isNull()
                    pred = F.when(any_null, F.lit(True)).otherwise(pred)
                keep = keep & pred
            frame = frame.withColumn(
                f"_sel{i}", F.when(F.col("level") == i, keep.cast("int"))
            )
        return _propagate_ancestor_verdicts(
            frame, key_names, idxs, "_sel{}", "_sela{}"
        )

    frame = _apply_bucket_selector(
        frame, [i for i in sel_levels if i not in gap_set]
    )
    frame = _apply_bucket_sort(
        frame, [i for i in bs_levels if i not in gap_set]
    )

    # date_histogram gap-filling (ES `min_doc_count: 0` +
    # `extended_bounds`) — ON only when the request says min_doc_count
    # 0 EXPLICITLY or carries extended_bounds (the documented default
    # is off; flipping it on for ES's implicit default would change
    # every existing date_histogram answer). One single-branch pass
    # per gap level: a lead/row_number window over the (bucket-sized)
    # frame finds each bucket's gap run to its successor plus the
    # bound extensions at the partition edges, and ONE explode of
    # a per-row synthesized-key array emits the empty buckets —
    # never a union or self-join of the frame (either would duplicate
    # the underlying rollup scan). Synthesized buckets: doc_count 0,
    # every metric column NULL. Value-based pipelines
    # (cumulative_sum/derivative/bucket_script) ran BEFORE the fill —
    # exactly ES's default gap_policy 'skip', which continues from
    # the last AVAILABLE value; positional pipelines
    # (moving_fn/serial_diff) and bucket_sort were DEFERRED and run
    # after the fill below, so their windows stride the empty buckets
    # as positions like ES's min_doc_count-0 response (round 12 —
    # the r11 raise removed; PARITY #20). The fill is frame-anchored:
    # with no surviving bucket at the level (empty input) nothing is
    # synthesized.
    for i in gap_levels:
        lvl = levels[i - 1]
        eb = lvl.body.get("extended_bounds") or {}
        for bk in eb:
            if bk not in ("min", "max"):
                raise ValueError(f"extended_bounds key {bk!r}")
        if lvl.kind == "histogram":
            # numeric histogram (round 11): the grid is float
            # arithmetic on the same key expression the bucket level
            # used — synthesized keys are key + i·interval, spelled
            # identically in the oracle
            grid = ("float", float(lvl.body["interval"]),
                    float(lvl.body.get("offset", 0.0)))
            key = F.col(lvl.name).cast("double")
        else:
            grid = _dh_grid(lvl.body)
            for bk in eb:
                if not isinstance(eb[bk], int):
                    raise ValueError(
                        "extended_bounds values must be epoch millis ints"
                    )
            key = F.col(lvl.name).cast("long")
        part = [F.col("level"), *[F.col(k) for k in key_names[: i - 1]]]
        wseq = Window.partitionBy(*part).orderBy(key.asc())
        wall = Window.partitionBy(*part)
        nxt = F.lead(key).over(wseq)
        rn = F.row_number().over(wseq)
        cnt = F.count(F.lit(1)).over(wall)
        empty = F.array().cast(
            "array<double>" if grid[0] == "float" else "array<long>"
        )
        if grid[0] == "float":
            _, step, goff = grid
            stp = F.lit(step)
            nsteps = F.round((nxt - key) / stp).cast("long")
            gaps = F.when(
                nxt.isNotNull() & (nsteps > 1),
                F.transform(
                    F.sequence(F.lit(1), nsteps - 1),
                    lambda j: key + j.cast("double") * stp,
                ),
            ).otherwise(empty)
            pre, post = empty, empty
            if "min" in eb:
                lo = (
                    math.floor((float(eb["min"]) - goff) / step) * step
                    + goff
                )
                npre = F.round((key - F.lit(lo)) / stp).cast("long")
                pre = F.when(
                    (rn == 1) & (key > F.lit(lo)),
                    F.transform(
                        F.sequence(F.lit(1), npre),
                        lambda j: key - j.cast("double") * stp,
                    ),
                ).otherwise(empty)
            if "max" in eb:
                hi = (
                    math.floor((float(eb["max"]) - goff) / step) * step
                    + goff
                )
                npost = F.round((F.lit(hi) - key) / stp).cast("long")
                post = F.when(
                    (rn == cnt) & (key < F.lit(hi)),
                    F.transform(
                        F.sequence(F.lit(1), npost),
                        lambda j: key + j.cast("double") * stp,
                    ),
                ).otherwise(empty)
        elif grid[0] == "fixed":
            _, step, goff = grid
            # interior gaps: keys strictly between this bucket and
            # the next
            gaps = F.when(
                nxt.isNotNull() & (nxt > key + F.lit(step)),
                F.sequence(key + F.lit(step), nxt - F.lit(step), F.lit(step)),
            ).otherwise(empty)
            pre, post = empty, empty
            if "min" in eb:
                lo = ((eb["min"] - goff) // step) * step + goff
                pre = F.when(
                    (rn == 1) & (key > F.lit(lo)),
                    F.sequence(F.lit(lo), key - F.lit(step), F.lit(step)),
                ).otherwise(empty)
            if "max" in eb:
                hi = ((eb["max"] - goff) // step) * step + goff
                post = F.when(
                    (rn == cnt) & (key < F.lit(hi)),
                    F.sequence(key + F.lit(step), F.lit(hi), F.lit(step)),
                ).otherwise(empty)
        elif grid[0] == "local":
            # IANA time_zone (round 13, VERDICT r12 Next #1): the
            # grid lives in LOCAL wall time, where calendar days are
            # uniformly 24 wall-hours — sequences step wall
            # timestamps and every boundary maps back to its UTC
            # instant through the tzdb, so a grid spanning a DST
            # transition steps 23/25 instant-hours exactly as ES's
            # min_doc_count-0 response does. Same windows, same one
            # explode as every other grid kind.
            _, unit, tzname = grid
            iv = F.expr(
                {
                    "day": "INTERVAL '1' DAY",
                    "week": "INTERVAL '7' DAY",
                }.get(unit)
                or f"INTERVAL '{_MONTH_UNITS[unit]}' MONTH"
            )
            kts = F.from_utc_timestamp(F.timestamp_millis(key), tzname)
            nts = F.from_utc_timestamp(F.timestamp_millis(nxt), tzname)

            def _ms(arr):
                return F.transform(
                    arr,
                    lambda t: F.unix_millis(F.to_utc_timestamp(t, tzname)),
                )

            gaps = F.when(
                nxt.isNotNull() & (nts > kts + iv),
                _ms(F.sequence(kts + iv, nts - iv, iv)),
            ).otherwise(empty)
            pre, post = empty, empty
            if "min" in eb:
                lo_ts = F.date_trunc(
                    unit,
                    F.from_utc_timestamp(
                        F.timestamp_millis(F.lit(eb["min"])), tzname
                    ),
                )
                pre = F.when(
                    (rn == 1) & (kts > lo_ts),
                    _ms(F.sequence(lo_ts, kts - iv, iv)),
                ).otherwise(empty)
            if "max" in eb:
                hi_ts = F.date_trunc(
                    unit,
                    F.from_utc_timestamp(
                        F.timestamp_millis(F.lit(eb["max"])), tzname
                    ),
                )
                post = F.when(
                    (rn == cnt) & (kts < hi_ts),
                    _ms(F.sequence(kts + iv, hi_ts, iv)),
                ).otherwise(empty)
        else:
            # month/quarter/year (round 11): no fixed width, but the
            # grid is exactly enumerable by INTERVAL-n-MONTH timestamp
            # sequences anchored at the bucket keys — the same
            # windows, the same one explode; only the successor
            # arithmetic moves from long addition to date math.
            # Bounds truncate onto the grid via date_trunc(unit).
            # time_zone (round 12): the LOCAL month grid — sequences
            # run on tz-shifted instants, keys map back by -tz_off.
            _, months, unit, tz_off = grid
            iv = F.expr(f"INTERVAL '{months}' MONTH")
            kts = F.timestamp_millis(key + F.lit(tz_off))
            nts = F.timestamp_millis(nxt + F.lit(tz_off))

            def _ms(arr):
                return F.transform(
                    arr, lambda t: F.unix_millis(t) - F.lit(tz_off)
                )

            gaps = F.when(
                nxt.isNotNull() & (nts > kts + iv),
                _ms(F.sequence(kts + iv, nts - iv, iv)),
            ).otherwise(empty)
            pre, post = empty, empty
            if "min" in eb:
                lo_ts = F.date_trunc(
                    unit, F.timestamp_millis(F.lit(eb["min"] + tz_off))
                )
                pre = F.when(
                    (rn == 1) & (kts > lo_ts),
                    _ms(F.sequence(lo_ts, kts - iv, iv)),
                ).otherwise(empty)
            if "max" in eb:
                hi_ts = F.date_trunc(
                    unit, F.timestamp_millis(F.lit(eb["max"] + tz_off))
                )
                post = F.when(
                    (rn == cnt) & (kts < hi_ts),
                    _ms(F.sequence(kts + iv, hi_ts, iv)),
                ).otherwise(empty)
        synth = F.when(
            F.col("level") == i, F.concat(pre, gaps, post)
        ).otherwise(empty)
        # window exprs must resolve in their own projection — explode
        # can't wrap a windowspecdefinition directly
        frame = frame.withColumn("_synth", synth)
        combined = F.concat(
            F.array(F.struct(key.alias("k"), F.lit(True).alias("real"))),
            F.transform(
                F.col("_synth"),
                lambda k: F.struct(k.alias("k"), F.lit(False).alias("real")),
            ),
        )
        frame = frame.withColumn("_gx", F.explode(combined))
        value_cols = (
            ["doc_count"]
            + [nm for nm, _, _ in metrics]
            + pipe_cols.names
        )
        frame = frame.select(
            F.col("level"),
            *[
                F.col("_gx.k").alias(nm) if nm == lvl.name else F.col(nm)
                for nm in key_names
            ],
            *[
                F.when(F.col("_gx.real"), F.col(nm))
                .otherwise(F.lit(0) if nm == "doc_count" else F.lit(None))
                .alias(nm)
                for nm in value_cols
            ],
        )

    # deferred positional pipelines (round 12): the same window
    # machinery, re-run over the FILLED frame — empty buckets now
    # occupy positions (their NULL metric values drop from the
    # aggregates, ES's gap_policy 'skip'; insert_zeros coalesces
    # them to 0)
    deferred_names: list[str] = []
    if pipe_cols.deferred:
        lv2 = [_Level(lvl.name, lvl.kind, lvl.body) for lvl in levels]
        for src_lvl, dst_lvl in zip(levels, lv2):
            # deferred moving_percentiles re-resolves its percents
            # from the sibling percentiles spec
            dst_lvl.metrics = list(src_lvl.metrics)
        for idx, pn, pk, sp in pipe_cols.deferred:
            lv2[idx - 1].pipelines.append((pn, pk, sp))
        post = _apply_pipelines_windows(frame, lv2, key_names)
        frame = post.frame
        deferred_names = post.names
    # gap-filled levels' selectors evaluate the filled grid (empty
    # buckets included), then bucket_sort ranks the survivors — both
    # may reference a deferred pipeline's column
    frame = _apply_bucket_selector(
        frame, [i for i in sel_levels if i in gap_set]
    )
    frame = _apply_bucket_sort(frame, [i for i in bs_levels if i in gap_set])

    # report each metric at its attachment level only (ES tree
    # shape); the _hmp* value arrays were moving_percentiles
    # plumbing, not response fields
    proj = [
        F.col("level"),
        *[F.col(nm) for nm in key_names],
        F.col("doc_count"),
        *[
            F.when(F.col("level") == lvl_no, F.col(nm)).alias(nm)
            for nm, _, lvl_no in metrics
            if not nm.startswith("_hmp")
        ],
        *[F.col(nm) for nm in pipe_cols.names + deferred_names],
    ]
    return frame.select(*proj).orderBy(
        "level", *[F.col(nm).asc_nulls_first() for nm in key_names]
    )


_STREAM_METRICS = ("avg", "sum", "min", "max", "value_count")


def streamable_aggs(
    frame: DataFrame, aggs: dict, watermark: str = "2 hours"
) -> DataFrame:
    """The continuously-maintainable subset of ``compile_aggs``: a
    ``date_histogram`` root (fixed-width units — the tumbling
    ``F.window`` shape Structured Streaming manages state for) with
    any chain of stateless bucket levels below it and leaf-level
    metrics, emitting LEAF buckets only. On a batch frame the same
    expression tree runs unchanged and equals ``compile_aggs``' leaf
    level (cross-checked in tests), so a dashboard agg can be served
    from the stream and backfilled from the lake with one definition.

    Streaming restrictions, each enforced loudly: no ``terms`` size
    pruning (a per-parent rank is not incrementally maintainable —
    prune downstream or in ``foreachBatch``), no exact cardinality /
    percentiles (not expressible in append-mode state; the mergeable
    HLL/KLL sketches in operators/profile.py are the streaming
    answer), no pipeline aggs / top_hits, and calendar units wider
    than a day (month/quarter/year) have no fixed window width.

    The watermark bounds state: buckets older than the watermark are
    finalized and evicted, ES's own "a rollup index catches up and
    seals" behavior."""
    levels = _parse_chain(aggs)
    root = levels[0]
    if root.kind != "date_histogram":
        raise ValueError("streamable_aggs needs a date_histogram root")
    for lvl in levels:
        if lvl.pipelines or lvl.sibling_pipes or lvl.top_hits:
            raise ValueError("pipeline/top_hits aggs are not streamable")
        if lvl.kind == "filters":
            raise ValueError("filters buckets are not streamable")
        if lvl.kind == "terms" and "size" in lvl.body:
            raise ValueError(
                "terms size pruning is not incrementally maintainable; "
                "drop 'size' (prune downstream or in foreachBatch)"
            )
    for lvl in levels[:-1]:
        if lvl.metrics:
            raise ValueError(
                "streamable_aggs emits leaf buckets only; attach "
                "metrics to the innermost bucket"
            )
    b = root.body
    start_time = None
    if "time_zone" in b:
        # a tz'd window grid would need startTime plumbing that the
        # batch≡stream pin doesn't cover yet — loud, not silent
        raise ValueError(
            "streamable_aggs does not support date_histogram "
            "time_zone; use the batch compile_aggs path"
        )
    if "calendar_interval" in b:
        unit = _CALENDAR_UNITS[b["calendar_interval"]]
        if unit not in ("second", "minute", "hour", "day", "week"):
            raise ValueError(f"calendar unit {unit!r} has no fixed width")
        win = f"1 {unit}"
        if unit == "week":
            # F.window aligns tumbling windows to the epoch — a
            # THURSDAY — while compile_aggs' date_trunc('week') (and
            # ES calendar weeks) start Monday; shift the window grid
            # 4 days so the batch ≡ stream ≡ compile_aggs contract
            # holds for weeks too (ADVICE r09)
            start_time = "4 days"
    else:
        win_ms = _fixed_ms(b["fixed_interval"])
        win = f"{win_ms} milliseconds"
        if "offset" in b:
            # same grid shift compile_aggs applies; modulo keeps
            # startTime in [0, window) as F.window requires
            start_time = f"{_offset_ms(b['offset']) % win_ms} milliseconds"
    time_col = b["field"]

    metrics = []
    for name, spec in levels[-1].metrics:
        (kind,) = [k for k in spec if k in _METRIC_KINDS]
        if kind not in _STREAM_METRICS:
            raise ValueError(
                f"{kind} is not append-mode streamable (see "
                "operators/profile.py for the mergeable-sketch forms)"
            )
        col = F.col(spec[kind]["field"])
        dec = col.cast("decimal(18,6)")
        e = {
            "avg": F.sum(dec).cast("double") / F.count(col),
            "sum": F.sum(dec).cast("double"),
            "min": F.min(col).cast("double"),
            "max": F.max(col).cast("double"),
            "value_count": F.count(col).cast("double"),
        }[kind]
        metrics.append(e.alias(name))

    key_names = [lvl.name for lvl in levels[1:]]
    src = frame.withWatermark(time_col, watermark) if frame.isStreaming else frame
    base = src.select(
        F.window(F.col(time_col), win, win, start_time).alias("_win"),
        *[lvl.key_expr().alias(lvl.name) for lvl in levels[1:]],
        *[c for c in frame.columns if c not in key_names],
    ).filter(F.col("_win").isNotNull())
    for nm in key_names:
        base = base.filter(F.col(nm).isNotNull())
    return (
        base.groupBy("_win", *key_names)
        .agg(F.count(F.lit(1)).alias("doc_count"), *metrics)
        .select(
            F.unix_millis(F.col("_win.start")).alias(root.name),
            *key_names,
            "doc_count",
            *[nm for nm, _ in levels[-1].metrics],
        )
    )


def _arr_quantile_col(a: Column, p: float) -> Column:
    """quantile_cont over a SORTED array column — the same
    ``lower + frac·(upper − lower)`` tree Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` run, so merged-window percentiles
    stay hash-comparable across engines (round 13)."""
    nn = F.size(a)
    pos = (nn - F.lit(1)).cast("double") * F.lit(p)
    k = F.floor(pos).cast("int")
    lo = F.element_at(a, k + F.lit(1))
    hi = F.element_at(a, F.least(k + F.lit(2), nn))
    return lo + (pos - k.cast("double")) * (hi - lo)


def _bucket_path_col(path: str) -> Column:
    """Resolve an intra-level ``buckets_path``: a sibling metric's
    column name, or ``_count`` for the bucket's doc count."""
    return F.col("doc_count") if path == "_count" else F.col(path)


class _PipeResult:
    __slots__ = ("frame", "names", "deferred")

    def __init__(self, frame, names, deferred=()):
        self.frame, self.names, self.deferred = frame, names, deferred


def _apply_pipelines_windows(
    frame, levels, key_names, defer_positional=frozenset()
) -> _PipeResult:
    """Pipeline agg columns as level-masked windows over the ONE
    surviving bucket frame (no per-level branches, no joins).

    Parent pipelines (``cumulative_sum`` / ``derivative`` /
    ``bucket_script``) window over the partition ``(level, parent
    prefix)`` — which isolates exactly this level's surviving,
    key-ordered buckets — and are masked to their attachment level.
    Sequential parents only (histogram family), as ES requires;
    ``cumulative_sum`` accumulates through DECIMAL so the running
    double is association-free across engines (DuckDB windows may
    tree-reduce). The first ``derivative`` bucket is NULL (ES omits
    the key; a flat frame keeps the row).

    Sibling ``*_bucket`` pipes aggregate the CHILD level's surviving
    buckets onto the parent row through a window over the shared key
    prefix — the parent and its children share the partition, the
    level mask picks whose values feed the aggregate and whose row
    reports it. Everything here touches rows proportional to the
    bucket count, never the raw data.

    ``defer_positional`` (round 12, VERDICT r11 Next #8): level
    indices whose POSITIONAL pipelines (moving_fn / serial_diff) are
    NOT computed here — compile_aggs re-runs this function over the
    gap-FILLED frame for them, so their windows stride empty buckets
    as positions exactly as ES does with min_doc_count 0. The
    skipped specs come back in ``_PipeResult.deferred``."""
    added: list[str] = []
    deferred: list[tuple[int, str, str, dict]] = []
    n = len(levels)
    for i, lvl in enumerate(levels, start=1):
        if not (lvl.pipelines or lvl.sibling_pipes):
            continue
        at_level = F.col("level") == i
        w = Window.partitionBy(F.col("level"), *key_names[: i - 1]).orderBy(
            F.col(lvl.name).asc()
        )
        for pname, kind, spec in lvl.pipelines:
            if i in defer_positional and kind in (
                "moving_fn",
                "serial_diff",
                "moving_percentiles",
            ):
                deferred.append((i, pname, kind, spec))
                continue
            if kind in (
                "cumulative_sum",
                "derivative",
                "moving_fn",
                "serial_diff",
                "moving_percentiles",
            ) and lvl.kind not in ("date_histogram", "histogram"):
                raise ValueError(
                    f"{kind} needs a sequential (histogram-family) parent, "
                    f"got {lvl.kind}"
                )
            # ES gap_policy (round 11): 'skip' is the SQL-NULL window
            # behavior this module already pins (NULL source values
            # drop from sums/windows); 'insert_zeros' coalesces the
            # source to 0 before the window
            gp = spec.get("gap_policy", "skip")
            if gp not in ("skip", "insert_zeros"):
                raise ValueError(f"gap_policy {gp!r}")
            zeroed = gp == "insert_zeros"
            if kind == "cumulative_sum":
                src = _bucket_path_col(spec["buckets_path"])
                if zeroed:
                    src = F.coalesce(src, F.lit(0.0))
                col = (
                    F.sum(src.cast("decimal(28,6)"))
                    .over(w.rowsBetween(Window.unboundedPreceding, 0))
                    .cast("double")
                )
            elif kind == "derivative":
                src = _bucket_path_col(spec["buckets_path"])
                if zeroed:
                    src = F.coalesce(src, F.lit(0.0))
                col = (src - F.lag(src).over(w)).cast("double")
                if "unit" in spec:
                    # ES's normalized_value (round 13): the
                    # derivative per x-axis `unit` — value divided by
                    # the actual key delta in that unit, so it stays
                    # correct across DST-variable calendar buckets
                    if lvl.kind != "date_histogram":
                        raise ValueError(
                            "derivative unit needs a date_histogram "
                            "parent"
                        )
                    unit_ms = _fixed_ms(spec["unit"])
                    kcol = F.col(lvl.name).cast("long")
                    delta = kcol - F.lag(kcol).over(w)
                    frame = frame.withColumn(
                        f"{pname}_normalized_r6",
                        F.when(
                            at_level,
                            F.round(
                                col / (delta / F.lit(unit_ms)), 6
                            ),
                        ),
                    )
                    added.append(f"{pname}_normalized_r6")
            elif kind == "moving_fn":
                # the MovingFunctions.* set (round 13 widens to
                # stdDev / linearWeightedAvg / ewma — VERDICT r12
                # Next #5; round 14 adds `holt`, leaving only custom
                # Painless as the documented bound); trailing
                # window of `window` buckets INCLUDING the current
                # one (shift unsupported — raise rather than
                # mis-shift). sum / unweightedAvg / the stdDev
                # moments accumulate through DECIMAL so partial
                # order can't flip float bits; the fold functions
                # (linearWeightedAvg, ewma) run over the window's
                # non-NULL values in order — exactly ES's `values`
                # array under gap_policy skip — via a collected
                # array + a strict left fold, spelled identically in
                # the DuckDB oracle (list_filter + list_reduce). An
                # empty window is NULL in both engines (ES would say
                # 0.0 / NaN — PARITY'd in the module constant
                # comment).
                if "shift" in spec:
                    raise ValueError("moving_fn shift is not supported")
                script = spec["script"].strip()
                alpha = hbeta = None
                m = re.fullmatch(r"MovingFunctions\.(\w+)\(values\)", script)
                m_std = re.fullmatch(
                    r"MovingFunctions\.stdDev\(\s*values\s*,\s*"
                    r"MovingFunctions\.unweightedAvg\(values\)\s*\)",
                    script,
                )
                m_ewma = re.fullmatch(
                    r"MovingFunctions\.ewma\(\s*values\s*,\s*"
                    r"([0-9.eE+-]+)\s*\)",
                    script,
                )
                m_holt = re.fullmatch(
                    r"MovingFunctions\.holt\(\s*values\s*,\s*"
                    r"([0-9.eE+-]+)\s*,\s*([0-9.eE+-]+)\s*\)",
                    script,
                )
                if m and m.group(1) in _MOVING_FNS:
                    fn = m.group(1)
                elif m_std:
                    fn = "stdDev"
                elif m_ewma:
                    fn = "ewma"
                    alpha = float(m_ewma.group(1))
                    if not 0.0 < alpha <= 1.0:
                        raise ValueError("ewma alpha must be in (0, 1]")
                elif m_holt:
                    fn = "holt"
                    alpha = float(m_holt.group(1))
                    hbeta = float(m_holt.group(2))
                    if not 0.0 < alpha <= 1.0:
                        raise ValueError("holt alpha must be in (0, 1]")
                    if not 0.0 <= hbeta <= 1.0:
                        raise ValueError("holt beta must be in [0, 1]")
                else:
                    raise ValueError(
                        f"moving_fn script {spec['script']!r}: only "
                        f"MovingFunctions.{{{','.join(_MOVING_FNS)}}}"
                        "(values), MovingFunctions.stdDev(values, "
                        "MovingFunctions.unweightedAvg(values)), "
                        "MovingFunctions.ewma(values, alpha) and "
                        "MovingFunctions.holt(values, alpha, beta)"
                    )
                win_n = int(spec["window"])
                if win_n < 1:
                    raise ValueError("moving_fn window must be >= 1")
                src = _bucket_path_col(spec["buckets_path"])
                if zeroed:
                    src = F.coalesce(src, F.lit(0.0))
                mw = w.rowsBetween(-(win_n - 1), 0)
                if fn == "max":
                    col = F.max(src).over(mw).cast("double")
                elif fn == "min":
                    col = F.min(src).over(mw).cast("double")
                elif fn == "sum":
                    col = (
                        F.sum(src.cast("decimal(28,6)")).over(mw).cast("double")
                    )
                elif fn == "unweightedAvg":
                    col = (
                        F.sum(src.cast("decimal(28,6)")).over(mw)
                        / F.count(src).over(mw)
                    ).cast("double")
                elif fn == "stdDev":
                    # the extended_stats moment discipline over the
                    # trailing window: exact decimal Σv/Σv² (4dp
                    # double casts), fixed population tree, negative
                    # clamp, √ (IEEE-exact), 6dp derived output
                    n_d = F.count(src).over(mw).cast("double")
                    s_d = F.sum(src.cast("decimal(28,6)")).over(mw).cast(
                        "double"
                    )
                    s2_d = F.round(
                        F.sum(
                            src.cast("decimal(18,6)")
                            * src.cast("decimal(18,6)")
                        )
                        .over(mw)
                        .cast("double"),
                        4,
                    )
                    var_d = F.greatest(
                        (n_d * s2_d - s_d * s_d) / (n_d * n_d),
                        F.lit(0.0),
                    )
                    col = F.round(F.sqrt(var_d), 6)
                elif fn == "linearWeightedAvg":
                    # weights 1..k over the window's non-NULL values
                    # in order (ES's loop): exact decimal weighted
                    # sum, 4dp double cast, ÷ the exact integer
                    # weight total, 6dp derived output
                    vals = F.collect_list(src).over(mw)
                    k = F.size(vals)
                    ws = F.aggregate(
                        F.zip_with(
                            vals,
                            F.sequence(F.lit(1), k),
                            lambda v, i: v.cast("decimal(18,6)")
                            * i.cast("decimal(10,0)"),
                        ),
                        F.lit(0).cast("decimal(38,6)"),
                        lambda acc, x: acc + x,
                    )
                    col = F.when(
                        k > 0,
                        F.round(
                            F.round(ws.cast("double"), 4)
                            / (k * (k + 1) / F.lit(2)).cast("double"),
                            6,
                        ),
                    )
                elif fn == "ewma":
                    # ES's fold: seed = first value, then
                    # avg = v·α + avg·(1−α) — a strict left fold
                    # whose per-step IEEE ops are spelled in the
                    # same order in both engines
                    beta = 1.0 - alpha
                    vals = F.collect_list(src).over(mw)
                    col = F.when(
                        F.size(vals) > 0,
                        F.round(
                            F.aggregate(
                                F.slice(vals, F.lit(2), F.size(vals)),
                                F.element_at(vals, 1),
                                lambda acc, x: x * F.lit(alpha)
                                + acc * F.lit(beta),
                            ),
                            6,
                        ),
                    )
                else:  # holt (round 14, closing the r13 bound)
                    # Holt double exponential smoothing over the
                    # window's ordered non-NULL values, SINGLE-PASS
                    # seeding s₁ = v₁, b₁ = 0 (ES's HoltLinearModel
                    # seeds the trend from the first step's
                    # difference — a one-step transient that decays
                    # geometrically; documented in PARITY #20), then
                    #   s ← α·v + (1−α)(s + b)
                    #   b ← β(s_new − s) + (1−β)·b
                    # returning the final level s. NOT a struct
                    # list_reduce: DuckDB 1.0's struct accumulator
                    # mis-evaluates cross-field references in
                    # multi-step folds (builder-verified), so the
                    # recurrence unrolls as a window-bounded CHAIN of
                    # singleton transform-lambda bindings (the
                    # span_near precedent) — one constant-size level
                    # per window position, carried unchanged past
                    # len(values), spelled identically in the oracle.
                    if win_n > 32:
                        raise ValueError(
                            "holt windows above 32 are not supported "
                            "(the recurrence unrolls per position)"
                        )
                    vals = F.collect_list(src).over(mw)
                    n_sz = F.size(vals)
                    a_, cb_ = F.lit(alpha), F.lit(1.0 - alpha)
                    b_, db_ = F.lit(hbeta), F.lit(1.0 - hbeta)

                    def _holt_level(k, prev):
                        if k > win_n:
                            return prev["s"]
                        sk = (
                            F.element_at(vals, k) * a_
                            + (prev["s"] + prev["b"]) * cb_
                        )
                        nxt = F.struct(
                            F.when(n_sz >= k, sk)
                            .otherwise(prev["s"]).alias("s"),
                            F.when(
                                n_sz >= k,
                                (sk - prev["s"]) * b_
                                + prev["b"] * db_,
                            ).otherwise(prev["b"]).alias("b"),
                        )
                        return F.element_at(
                            F.transform(
                                F.array(nxt),
                                lambda a: _holt_level(k + 1, a),
                            ),
                            1,
                        )

                    seed = F.struct(
                        F.element_at(vals, 1).alias("s"),
                        F.lit(0.0).alias("b"),
                    )
                    # NO output rounding: both engines fold the
                    # identical IEEE ops, so the raw doubles agree
                    # bit-for-bit — while a 6dp round DISAGREES on
                    # this fold's outputs (2dp inputs x these
                    # multipliers land on scaled-half boundaries
                    # where DuckDB's scaled-floor double round and
                    # Spark's decimal HALF_UP split; builder-verified
                    # on 123.12323549999999)
                    col = F.when(
                        n_sz > 0,
                        F.element_at(
                            F.transform(
                                F.array(seed),
                                lambda a: _holt_level(2, a),
                            ),
                            1,
                        ),
                    )
            elif kind == "serial_diff":
                lag_n = int(spec.get("lag", 1))
                if lag_n < 1:
                    raise ValueError("serial_diff lag must be >= 1")
                src = _bucket_path_col(spec["buckets_path"])
                if zeroed:
                    src = F.coalesce(src, F.lit(0.0))
                col = (src - F.lag(src, lag_n).over(w)).cast("double")
            elif kind == "moving_percentiles":
                # ES moving_percentiles (round 13): merge the
                # trailing `window` buckets' percentile sketches —
                # here the EXACT reading: the union of those
                # buckets' raw value multisets (the hidden _hmp
                # arrays _metric_cols collected), flattened + sorted
                # ONCE into a temp column, then one quantile_cont
                # interpolation per percent of the referenced
                # percentiles agg. Empty/gap buckets carry NULL
                # arrays and drop from the merge (ES: empty digest).
                # Memory is window × bucket-values per row — the
                # exact-percentiles buffer class, window-bounded.
                if "shift" in spec:
                    raise ValueError(
                        "moving_percentiles shift is not supported"
                    )
                win_n = int(spec["window"])
                if win_n < 1:
                    raise ValueError(
                        "moving_percentiles window must be >= 1"
                    )
                path = spec["buckets_path"]
                mspec = dict(lvl.metrics).get(path)
                if not mspec or "percentiles" not in mspec:
                    raise ValueError(
                        "moving_percentiles buckets_path must "
                        "reference a sibling percentiles agg at the "
                        "same level"
                    )
                percents = mspec["percentiles"].get(
                    "percents", (1, 5, 25, 50, 75, 95, 99)
                )
                mw = w.rowsBetween(-(win_n - 1), 0)
                tmp = f"_mp_{pname}"
                frame = frame.withColumn(
                    tmp,
                    F.when(
                        at_level,
                        F.sort_array(
                            F.flatten(
                                F.collect_list(
                                    F.col(f"_hmp{i}_{path}")
                                ).over(mw)
                            )
                        ),
                    ),
                )
                for p in percents:
                    cn = f"{pname}_p{int(p)}_r6"
                    ta = F.col(tmp)
                    frame = frame.withColumn(
                        cn,
                        F.when(
                            at_level & (F.size(ta) > 0),
                            F.round(
                                _arr_quantile_col(ta, p / 100.0), 6
                            ),
                        ),
                    )
                    added.append(cn)
                continue
            elif kind == "normalize":
                # ES normalize (round 12; round 13 adds z-score +
                # softmax — VERDICT r12 Next #7): rescale a metric
                # across the level's buckets — windows over the
                # whole (level, parent-prefix) partition, reported
                # at 6dp.
                method = spec["method"]
                if method not in _NORMALIZE_METHODS:
                    raise ValueError(
                        f"normalize method {method!r}: one of "
                        f"{_NORMALIZE_METHODS}"
                    )
                src = _bucket_path_col(spec["buckets_path"])
                if zeroed:
                    src = F.coalesce(src, F.lit(0.0))
                wp = Window.partitionBy(
                    F.col("level"), *key_names[: i - 1]
                )
                if method == "percent_of_sum":
                    tot = (
                        F.sum(src.cast("decimal(28,6)"))
                        .over(wp)
                        .cast("double")
                    )
                    col = F.round(src / tot, 6)
                elif method == "mean":
                    # ES's mean method: (x − mean)/(max − min) —
                    # decimal mean like percent_of_sum's total, the
                    # rescale family's degenerate-range convention
                    n_d = F.count(src).over(wp)
                    mean_d = (
                        F.sum(src.cast("decimal(28,6)"))
                        .over(wp)
                        .cast("double")
                        / n_d
                    )
                    mn, mx = F.min(src).over(wp), F.max(src).over(wp)
                    col = F.when(
                        mx > mn,
                        F.round((src - mean_d) / (mx - mn), 6),
                    ).otherwise(F.when(src.isNotNull(), F.lit(0.0)))
                elif method == "z-score":
                    # (x − mean)/σ over the level's buckets — the
                    # extended_stats moment discipline (exact
                    # decimal Σv/Σv², 4dp double casts, clamped
                    # population tree); a zero-variance level
                    # reports NULL (ES would divide by zero)
                    n_d = F.count(src).over(wp).cast("double")
                    sx = (
                        F.sum(src.cast("decimal(28,6)"))
                        .over(wp)
                        .cast("double")
                    )
                    sxx = F.round(
                        F.sum(
                            src.cast("decimal(18,6)")
                            * src.cast("decimal(18,6)")
                        )
                        .over(wp)
                        .cast("double"),
                        4,
                    )
                    var = F.greatest(
                        (n_d * sxx - sx * sx) / (n_d * n_d),
                        F.lit(0.0),
                    )
                    col = F.when(
                        var > 0,
                        F.round((src - sx / n_d) / F.sqrt(var), 6),
                    )
                elif method == "softmax":
                    # exp is libm (not correctly rounded) — the
                    # established rule: shift by the level max
                    # (softmax is shift-invariant) so exp ∈ (0, 1],
                    # round each exp at 12dp (one window), then the
                    # rounded values are plain data: their exact
                    # decimal sum and the 6dp output tree are
                    # engine-independent. Two windows = one extra
                    # projection; exp lives in a TEMP column so the
                    # sum window need not nest inside it.
                    mx = F.max(src).over(wp)
                    tmp = f"_sm_{pname}"
                    frame = frame.withColumn(
                        tmp,
                        F.when(at_level, F.round(F.exp(src - mx), 12)),
                    )
                    tot = (
                        F.sum(F.col(tmp).cast("decimal(18,12)"))
                        .over(wp)
                        .cast("double")
                    )
                    col = F.round(F.col(tmp) / tot, 6)
                else:
                    mn, mx = F.min(src).over(wp), F.max(src).over(wp)
                    scale = 100.0 if method == "rescale_0_100" else 1.0
                    col = F.when(
                        mx > mn,
                        F.round(
                            (src - mn) / (mx - mn) * F.lit(scale), 6
                        ),
                    ).otherwise(
                        # degenerate range: every present value maps
                        # to 0 (documented choice; 0/0 is undefined)
                        F.when(src.isNotNull(), F.lit(0.0))
                    )
            else:  # bucket_script
                script = spec["script"]
                for var, path in sorted(
                    spec["buckets_path"].items(), key=lambda kv: -len(kv[0])
                ):
                    col_name = "doc_count" if path == "_count" else path
                    if zeroed:
                        col_name = f"coalesce({col_name}, 0.0)"
                    script = re.sub(
                        rf"params\.{re.escape(var)}\b", col_name, script
                    )
                if re.search(r"\bparams\.", script):
                    raise ValueError(
                        f"bucket_script script {spec['script']!r}: "
                        "undeclared params.* variable (round-13 ADVICE)"
                    )
                col = F.expr(script).cast("double")
            frame = frame.withColumn(pname, F.when(at_level, col))
            added.append(pname)
        for pname, kind, spec in lvl.sibling_pipes:
            child_name, _, metric = spec["buckets_path"].partition(">")
            if i >= n or levels[i].name != child_name:
                raise ValueError(
                    f"{kind} buckets_path {spec['buckets_path']!r} must "
                    f"reference the child bucket agg"
                )
            src = _bucket_path_col(metric)
            wc = Window.partitionBy(*key_names[:i])
            child_vals = F.when(F.col("level") == i + 1, src)
            if kind == "stats_bucket":
                # the 5-column summary over the SURVIVING children —
                # sum/avg through DECIMAL like the stats metric agg
                dec = child_vals.cast("decimal(28,6)")
                parts = [
                    ("count", F.count(child_vals).over(wc).cast("double")),
                    ("min", F.min(child_vals).over(wc).cast("double")),
                    ("max", F.max(child_vals).over(wc).cast("double")),
                    ("sum", F.sum(dec).over(wc).cast("double")),
                    (
                        "avg",
                        F.sum(dec).over(wc).cast("double")
                        / F.count(child_vals).over(wc),
                    ),
                ]
                for sub, expr in parts:
                    frame = frame.withColumn(
                        f"{pname}_{sub}", F.when(at_level, expr)
                    )
                    added.append(f"{pname}_{sub}")
                continue
            if kind == "extended_stats_bucket":
                # the extended_stats moment discipline (exact decimal
                # Σv/Σv² with 4dp double casts, fixed population
                # tree, negative clamp, IEEE-exact √) over the
                # SURVIVING child buckets' metric values — round 13
                sigma = float(spec.get("sigma", 2.0))
                dec = child_vals.cast("decimal(28,6)")
                n_d = F.count(child_vals).over(wc).cast("double")
                s_d = F.sum(dec).over(wc).cast("double")
                s2_d = F.round(
                    F.sum(
                        child_vals.cast("decimal(18,6)")
                        * child_vals.cast("decimal(18,6)")
                    )
                    .over(wc)
                    .cast("double"),
                    4,
                )
                avg_d = s_d / F.count(child_vals).over(wc)
                var_d = F.greatest(
                    (n_d * s2_d - s_d * s_d) / (n_d * n_d), F.lit(0.0)
                )
                std_d = F.sqrt(var_d)
                parts = [
                    ("count", n_d),
                    ("min", F.min(child_vals).over(wc).cast("double")),
                    ("max", F.max(child_vals).over(wc).cast("double")),
                    ("sum", s_d),
                    ("avg", avg_d),
                    ("sos", s2_d),
                    ("var", var_d),
                    ("std", std_d),
                    ("std_upper", avg_d + F.lit(sigma) * std_d),
                    ("std_lower", avg_d - F.lit(sigma) * std_d),
                ]
                for sub, expr in parts:
                    frame = frame.withColumn(
                        f"{pname}_{sub}", F.when(at_level, expr)
                    )
                    added.append(f"{pname}_{sub}")
                continue
            if kind == "percentiles_bucket":
                # EXACT percentiles over the surviving child buckets'
                # metric values (ES uses t-digest — the established
                # exactness divergence class), one window percentile
                # per requested percent — round 13
                for p in spec.get("percents", (1, 5, 25, 50, 75, 95, 99)):
                    frame = frame.withColumn(
                        f"{pname}_p{int(p)}_r6",
                        F.when(
                            at_level,
                            F.round(
                                F.percentile(
                                    child_vals, F.lit(p / 100.0)
                                ).over(wc),
                                6,
                            ),
                        ),
                    )
                    added.append(f"{pname}_p{int(p)}_r6")
                continue
            val = _SIBLING_FN[kind](child_vals).over(wc).cast("double")
            frame = frame.withColumn(pname, F.when(at_level, val))
            added.append(pname)
    return _PipeResult(frame, added, deferred)


def _top_hits_plan(df: DataFrame, levels: list[_Level]) -> DataFrame:
    """Bucket chain ending in ``top_hits``: per-bucket example docs
    via one ``row_number`` window. ``terms`` size pruning still
    applies (bucket sizes from a groupBy, top buckets kept, docs
    semi-joined)."""
    if any(lvl.metrics for lvl in levels):
        raise ValueError("top_hits cannot mix with sibling metric aggs here")
    key_names = [lvl.name for lvl in levels]
    base = df.select(
        *[lvl.key_expr().alias(lvl.name) for lvl in levels],
        *[c for c in df.columns if c not in key_names],
    )
    for nm in key_names:
        base = base.filter(F.col(nm).isNotNull())

    leaf = levels[-1]
    th_name, th = leaf.top_hits
    size = int(th.get("size", 3))
    sort = th.get("sort", [])
    source = th.get("_source", [c for c in df.columns if c not in key_names])

    counts = base.groupBy(*key_names).agg(F.count(F.lit(1)).alias("doc_count"))
    pruned = counts
    for i, lvl in enumerate(levels, start=1):
        if lvl.kind == "terms":
            # ES default size 10 applies here too — and without a cap
            # the kept-bucket broadcast below would ship EVERY key of
            # a high-cardinality field
            bsize = int(lvl.body.get("size", 10))
            parent = key_names[: i - 1] or [F.lit(0)]
            lvl_counts = pruned.groupBy(*key_names[:i]).agg(
                F.sum("doc_count").alias("_n")
            )
            w = Window.partitionBy(*parent).orderBy(
                F.col("_n").desc(), F.col(lvl.name).asc()
            )
            keep = (
                lvl_counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= bsize)
                .select(*key_names[:i])
            )
            pruned = pruned.join(F.broadcast(keep), key_names[:i], "left_semi")

    docs = base.join(F.broadcast(pruned.select(*key_names)), key_names, "left_semi")
    w = Window.partitionBy(*key_names).orderBy(*_sort_cols(sort))
    return (
        docs.withColumn(f"{th_name}_rank", F.row_number().over(w))
        .filter(F.col(f"{th_name}_rank") <= size)
        .select(*key_names, f"{th_name}_rank", *source)
        .orderBy(*key_names, f"{th_name}_rank")
    )


def _strip_top_hits(node: dict) -> dict:
    """The aggs tree minus its ``top_hits`` sections (non-destructive)
    — the bucket-frame half of the non-leaf top_hits union plan."""
    out = {}
    for name, spec in node.items():
        if isinstance(spec, dict) and "top_hits" in spec:
            continue
        spec2 = dict(spec)
        if isinstance(spec2.get("aggs"), dict):
            sub = _strip_top_hits(spec2["aggs"])
            if sub:
                spec2["aggs"] = sub
            else:
                spec2.pop("aggs")
        out[name] = spec2
    return out


def _top_hits_nonleaf_plan(
    df: DataFrame, levels: list[_Level], th_i: int, aggs: dict
) -> DataFrame:
    """``top_hits`` under a NON-LEAF bucket (round 14, VERDICT r13
    Next #4 — lifts the r10 innermost-only bound): "top N docs per
    service, and the daily sub-buckets too". The response is one
    frame of two row shapes, distinguishable by which columns are
    non-NULL — the REGULAR flat bucket frame (every level's
    doc_count + metrics, computed by the ordinary rollup plan over
    the tree with the top_hits section stripped) unioned with
    DOC-shaped rows at the carrying level: ``level`` = the carrier's
    1-based level, the carrier's key prefix set (deeper keys NULL),
    ``<name>_rank`` + ``_source`` columns non-NULL. The doc half
    reuses _top_hits_plan over bare copies of the prefix levels, so
    its terms-size survival rule (doc_count desc, key asc per
    parent) matches the bucket half's by construction — the same
    counts from the same frame."""
    carrier = levels[th_i - 1]
    # the doc half reuses _top_hits_plan, whose terms survival rule
    # is the DEFAULT one (count desc, key asc; no min_doc_count, no
    # bucket_sort/bucket_selector, single-membership kinds) — a
    # prefix level pruned differently in the bucket half would make
    # the two halves disagree on which carrier buckets exist
    # (review-confirmed with order: {_key: desc}), so anything the
    # doc half cannot reproduce raises loudly
    for lv in levels[:th_i]:
        if lv.kind in ("nested", "filters", "adjacency_matrix") or (
            lv.kind in ("range", "date_range", "ip_range",
                        "geo_distance")
            and _ranges_overlap(lv.body["ranges"])
        ):
            raise ValueError(
                f"top_hits under a non-leaf bucket: carrier-prefix "
                f"level {lv.name!r} ({lv.kind}) is multi-membership "
                "— the doc half cannot re-base"
            )
        if lv.kind in ("rare_terms", "multi_terms", "categorize_text"):
            # the bucket half prunes these (rare_terms by the
            # max_doc_count ceiling, multi_terms/categorize_text by
            # the size rank) but _top_hits_plan reproduces ONLY the
            # terms top-size rule — letting them through would emit
            # doc rows for carrier buckets the bucket half dropped
            # (round 15, ADVICE r14)
            raise ValueError(
                f"top_hits under a non-leaf bucket: carrier-prefix "
                f"level {lv.name!r} ({lv.kind}) prunes buckets by a "
                "rule the doc half does not reproduce"
            )
        if (
            lv.body.get("order") is not None
            or int(lv.body.get("min_doc_count", 1) or 0) > 1
            or lv.bucket_sort is not None
            or lv.selectors
        ):
            raise ValueError(
                f"top_hits under a non-leaf bucket: carrier-prefix "
                f"level {lv.name!r} uses a non-default survival rule "
                "(order/min_doc_count/bucket_sort/bucket_selector) "
                "the doc half's pruning does not reproduce"
            )
    buckets = compile_aggs(df, _strip_top_hits(aggs))
    # bare prefix copies: metrics/pipes of the original levels belong
    # to the BUCKET half (and _top_hits_plan refuses frames with
    # sibling metrics)
    prefix = [_Level(lv.name, lv.kind, lv.body) for lv in levels[:th_i]]
    prefix[-1].top_hits = carrier.top_hits
    docs = _top_hits_plan(df, prefix)
    key_names = [lv.name for lv in levels]
    clash = sorted(
        (set(docs.columns) - {"level", *key_names})
        & set(buckets.columns)
    )
    if clash:
        raise ValueError(
            f"top_hits _source/rank columns collide with bucket-frame "
            f"columns {clash}; rename via _source or the agg names"
        )
    th_name, _ = carrier.top_hits
    return (
        buckets.unionByName(
            docs.withColumn("level", F.lit(th_i).cast("int")),
            allowMissingColumns=True,
        )
        .orderBy("level", *key_names, f"{th_name}_rank")
    )


def _sort_cols(sort) -> list[Column]:
    out = []
    for s in sort:
        if isinstance(s, str):
            out.append(F.col(s).asc())
            continue
        (field, spec), = s.items()
        order = spec.get("order", "asc") if isinstance(spec, dict) else spec
        out.append(F.col(field).desc() if order == "desc" else F.col(field).asc())
    return out


def composite_agg(
    df: DataFrame,
    sources: list,
    size: int = 10,
    after: dict | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """ES ``composite`` aggregation: key-ordered bucket pages. The
    ``after`` cursor compiles to one comparison applied BEFORE the
    groupBy — later pages never re-shuffle earlier key ranges,
    exactly ES's early-termination contract. Composite sources drop
    missing keys by default; ``missing_bucket: true`` (round 14)
    keeps them as NULL-keyed buckets sorted FIRST, the cursor
    turning NULL-aware lexicographic.

    Source kinds (round 10 widened past ``terms``): ``terms``,
    ``histogram`` and ``date_histogram`` — each key expression is the
    SAME one ``compile_aggs`` uses for the equivalent bucket level
    (``_Level.key_expr``), so a composite page over a day grid and a
    date_histogram tree report identical epoch-millis keys."""
    names, exprs, keep_null = [], [], set()
    for s in sources:
        if isinstance(s, str):
            names.append(s)
            exprs.append(F.col(s))
        else:
            (name, spec), = s.items()
            kinds = [k for k in spec
                     if k in ("terms", "histogram", "date_histogram",
                              "geotile_grid", "geohash_grid")]
            if len(kinds) != 1:
                raise ValueError(
                    f"composite source {name!r}: one of terms/histogram/"
                    "date_histogram/geotile_grid/geohash_grid"
                )
            body = dict(spec[kinds[0]])
            # ES `missing_bucket: true` (round 14): docs lacking the
            # source field keep a NULL key instead of dropping; NULL
            # sorts FIRST (ES's asc missing order — Spark's asc
            # default, spelled NULLS FIRST in the oracle) and the
            # after cursor may carry null for such a source
            if body.pop("missing_bucket", False):
                keep_null.add(name)
            names.append(name)
            exprs.append(_Level(name, kinds[0], body).key_expr())
    base = df.select(
        *[e.alias(n) for e, n in zip(exprs, names)],
        *[c for c in df.columns if c not in names],
    )
    for n in names:
        if n not in keep_null:
            base = base.filter(F.col(n).isNotNull())
    if after:
        if keep_null or any(after.get(n) is None for n in names):
            # NULL-aware lexicographic cursor (a struct comparison
            # returns NULL past a null field): strictly-after under
            # nulls-first per key, NULL verdicts coalesced to false
            pred = F.lit(False)
            eq = F.lit(True)
            for n in names:
                k, a = F.col(n), after[n]
                if a is None:
                    gt, this_eq = k.isNotNull(), k.isNull()
                else:
                    gt, this_eq = k > F.lit(a), k == F.lit(a)
                pred = pred | (eq & gt)
                eq = eq & this_eq
            base = base.filter(F.coalesce(pred, F.lit(False)))
        else:
            base = base.filter(
                F.struct(*[F.col(n) for n in names])
                > F.struct(*[F.lit(after[n]) for n in names])
            )
    agg_exprs = [F.count(F.lit(1)).alias("doc_count")]
    for mname, spec in (metrics or {}).items():
        (kind,) = [k for k in spec if k in _METRIC_KINDS]
        col = F.col(spec[kind]["field"])
        if kind == "avg":
            agg_exprs.append(
                (F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(col)).alias(mname)
            )
        elif kind == "sum":
            agg_exprs.append(F.sum(col.cast("decimal(18,6)")).cast("double").alias(mname))
        elif kind == "min":
            agg_exprs.append(F.min(col).cast("double").alias(mname))
        elif kind == "max":
            agg_exprs.append(F.max(col).cast("double").alias(mname))
        elif kind == "value_count":
            agg_exprs.append(F.count(col).cast("double").alias(mname))
        elif kind == "cardinality":
            agg_exprs.append(F.count_distinct(col).cast("double").alias(mname))
        else:
            raise ValueError(f"composite metric {kind!r}")
    return (
        base.groupBy(*names)
        .agg(*agg_exprs)
        .orderBy(*[F.col(n).asc() for n in names])
        .limit(int(size))
    )


# ---------------------------------------------------------------------------
# the request surface
# ---------------------------------------------------------------------------


def _sort_fields(sort) -> list[tuple[str, str]]:
    out = []
    for s in sort:
        if isinstance(s, str):
            out.append((s, "asc"))
            continue
        (field, spec), = s.items()
        order = spec.get("order", "asc") if isinstance(spec, dict) else spec
        out.append((field, order))
    return out


def _after_predicate(sort, after: list) -> Column:
    """``search_after`` cursor: strictly-after in the (direction-
    aware) lexicographic sort order — ``(k1 ≻ a1) OR (k1 = a1 AND
    (k2 ≻ a2 ...))`` where ``≻`` flips per field direction. Unlike a
    struct comparison this honors mixed asc/desc sorts, and it
    filters BEFORE the top-k so later pages never re-sort earlier
    rows into the heap."""
    fields = _sort_fields(sort)
    if len(fields) != len(after):
        raise ValueError("search_after length must match sort length")
    pred = F.lit(False)
    for (field, order), val in reversed(list(zip(fields, after))):
        col, lit = F.col(field), F.lit(val)
        strictly = col < lit if order == "desc" else col > lit
        pred = strictly | ((col == lit) & pred)
    return pred


def search(
    df: DataFrame, request: dict, knn_index_path: str | None = None,
    lookups: dict | None = None,
) -> DataFrame:
    """Run the hits side of an ES ``_search`` request body: query →
    filter, ``sort`` → global order, ``from``/``size`` → offset/limit
    (a global top-k: Spark plans TakeOrderedAndProject when the sort
    and limit are adjacent), ``search_after`` → a pre-sort cursor
    predicate (deep pagination without the from+size window ES caps
    at 10k), ``collapse`` → one top hit per collapse-field group (a
    per-group ``row_number`` before the global top-k), ``_source`` →
    projection.

    ``knn`` with ``num_candidates`` + ``knn_index_path`` routes the
    ANN phase through the materialized IVF index (VERDICT r09 Next
    #5): the serving frame becomes the probed inverted lists (a
    static partition filter covering ≥ num_candidates vectors — see
    ``similarity.ivf_candidate_lists``) and the exact cosine top-k
    below is the rescore. The lists carry the corpus columns, so
    query / knn.filter / _source keep working; like ES, the answer
    is approximate — recall is measured, not assumed
    (es_knn_search_ivf oracle row). Without ``num_candidates`` the
    knn section stays the exact brute-force scan.

    ``lookups`` resolves ``terms`` lookup bodies to literal lists
    before compilation (resolve_terms_lookups, PARITY #38)."""
    # unconditional (ADVICE r16): resolve_terms_lookups itself raises
    # the loud "pass the table via the lookups= kwarg" when a LOOKUP
    # body appears and lookups is None — guarding on the kwarg here
    # let an un-resolved lookup dict fall through to the terms arm as
    # a silent no-match over the dict's key names.
    request = resolve_terms_lookups(request, lookups)
    for name, spec in (request.get("runtime_mappings") or {}).items():
        # runtime fields: ES evaluates Painless at query time; the
        # lake-side stand-in is a SQL expression (``script_sql``) —
        # same role (computed, never stored), PARITY #20
        df = df.withColumn(name, F.expr(spec["script_sql"]))
    knn = request.get("knn")
    if knn and "num_candidates" in knn:
        if knn_index_path is None:
            raise ValueError(
                "knn.num_candidates needs a materialized IVF index: "
                "pass knn_index_path (see similarity.write_ivf_index)"
            )
        from .similarity import ivf_candidate_lists

        df = ivf_candidate_lists(
            df.sparkSession,
            knn_index_path,
            knn["query_vector"],
            int(knn["num_candidates"]),
        )
        for name, spec in (request.get("runtime_mappings") or {}).items():
            df = df.withColumn(name, F.expr(spec["script_sql"]))
    out = df.filter(compile_query(request.get("query")))
    if request.get("post_filter"):
        # ES post_filter: narrows the HITS after aggregations were
        # computed (aggregations are separate calls here —
        # search_aggs — so for the hits side it composes as one more
        # filter before sort/size, exactly its ES effect)
        out = out.filter(
            _false_safe(compile_query(request["post_filter"]))
        )
    if knn:
        # the ES 8 knn section: exact brute-force cosine top-k over
        # the PRE-filtered frame (both knn.filter and the top-level
        # query act as pre-filters here — we do not blend lexical
        # scores; hybrid ranking is operators/retrieval.hybrid_rrf).
        # With num_candidates the frame is already the probed IVF
        # lists and this IS the exact rescore. One scan,
        # TakeOrderedAndProject, query vector lives in the plan.
        from .similarity import cosine

        if knn.get("filter"):
            out = out.filter(
                F.coalesce(compile_query(knn["filter"]), F.lit(False))
            )
        qv = F.array(*[F.lit(float(x)) for x in knn["query_vector"]])
        score = cosine(F.col(knn["field"]), qv)
        if "score_round" in knn:
            # cross-engine-deterministic ordering near the k boundary:
            # round the score and break ties on stable columns (the
            # convention every sim_* oracle row uses)
            score = F.round(score, int(knn["score_round"]))
        order = [F.col("_score").desc()] + [
            F.col(c).asc() for c in knn.get("tiebreak", [])
        ]
        out = (
            out.withColumn("_score", score)
            .orderBy(*order)
            .limit(int(knn["k"]))
        )
    sort = request.get("sort")
    after = request.get("search_after")
    if after:
        if not sort:
            raise ValueError("search_after requires a sort")
        out = out.filter(_after_predicate(sort, after))
    collapse = request.get("collapse")
    if collapse:
        if not sort:
            raise ValueError("collapse needs a sort to pick the top hit")
        w = Window.partitionBy(collapse["field"]).orderBy(*_sort_cols(sort))
        out = (
            out.withColumn("_chit", F.row_number().over(w))
            .filter(F.col("_chit") == 1)
            .drop("_chit")
        )
    if sort:
        out = out.orderBy(*_sort_cols(sort))
    frm = int(request.get("from", 0))
    if frm:
        out = out.offset(frm)
    out = out.limit(int(request.get("size", 10)))
    # highlight section: snippet columns computed AFTER pagination
    # (bounded rows — a pure string projection over the page), terms
    # derived from the request's own query like a real server
    hl_cols = []
    hl = request.get("highlight")
    if hl:
        window = int(hl.get("fragment_size", 60)) // 2
        for fld, fspec in hl["fields"].items():
            terms = _highlight_terms(request.get("query"), fld)
            if not terms:
                raise ValueError(
                    f"highlight field {fld!r}: the query holds no "
                    "match/match_phrase/term text for it"
                )
            from .retrieval import snippet_expr

            hl_cols.append(
                snippet_expr(fld, terms, window).alias(f"{fld}_snippet")
            )
    # nested inner_hits (round 13, VERDICT r12 Next #4): per hit, the
    # OFFSETS of the nested objects matching each inner_hits-carrying
    # nested clause — the exists predicate's lambda re-applied as an
    # index-keeping transform/filter, capped at the section's size
    # (ES default 3). A pure projection over the paginated rows, like
    # highlight; the hit matched the clause, so the array is
    # non-empty for a lone nested query (inside bool/should it can
    # legitimately come out empty).
    def _offset_lambda(iq: dict, path: str):
        # a real closure: PySpark validates higher-order-function
        # lambdas by parameter count, so default-arg binding is out
        return lambda x, i: F.when(
            _false_safe(compile_query(iq, _scope=(path, x))), i
        ).otherwise(F.lit(None).cast("int"))

    ih_cols = []
    for path, iq, ispec in _collect_inner_hits(request.get("query")):
        nm = ispec.get("name", path)
        isz = int(ispec.get("size", 3))
        matched = F.filter(
            F.transform(F.col(path), _offset_lambda(iq, path)),
            lambda v: v.isNotNull(),
        )
        ih_cols.append(
            F.slice(matched, 1, isz).alias(f"{nm}_inner_hits")
        )
    src = request.get("_source")
    cols = None
    if isinstance(src, (str, list)):
        cols = _source_columns(
            out.columns, [src] if isinstance(src, str) else src, []
        )
    elif isinstance(src, dict):
        cols = _source_columns(
            out.columns,
            src.get("includes") or ["*"],
            src.get("excludes") or [],
        )
    elif src is False:
        raise ValueError("_source: false returns no columns; omit fields "
                         "you don't want via includes/excludes")
    if cols is not None or hl_cols or ih_cols:
        keep = [F.col(c) for c in (cols if cols is not None else out.columns)]
        out = out.select(*keep, *hl_cols, *ih_cols)
    return out


def _source_columns(
    columns: list[str], includes: list, excludes: list
) -> list[str]:
    """ES ``_source`` filtering over the frame's columns: includes
    then excludes, both with ``*``/``?`` wildcards (fnmatch), include
    order preserved for exact names (frame order within a wildcard)."""
    import fnmatch

    cols: list[str] = []
    for pat in includes:
        for c in columns:
            if c not in cols and fnmatch.fnmatchcase(c, pat):
                cols.append(c)
    cols = [
        c
        for c in cols
        if not any(fnmatch.fnmatchcase(c, p) for p in excludes)
    ]
    if not cols:
        raise ValueError(
            f"_source selects no columns (includes={includes}, "
            f"excludes={excludes})"
        )
    return cols


def _highlight_terms(q: dict | None, field: str) -> list[str]:
    """Terms a real server would highlight for ``field``: the text of
    ``match`` / ``match_phrase`` / ``term`` clauses targeting it,
    walked through bool must/filter/should (must_not never highlights),
    analyzed like the match clause itself, first-occurrence order."""
    from .retrieval import _analyze

    out: list[str] = []

    def _add(ts):
        for t in ts:
            if t not in out:
                out.append(t)

    def _walk(node):
        if not node:
            return
        (kind,) = node.keys()
        body = node[kind]
        if kind == "bool":
            for key in ("must", "filter", "should"):
                v = body.get(key, [])
                for c in v if isinstance(v, list) else [v]:
                    _walk(c)
            return
        if kind in ("match", "match_phrase", "term"):
            items = [(f, s) for f, s in body.items() if f != "boost"]
            if len(items) != 1 or items[0][0] != field:
                return
            spec = items[0][1]
            if kind == "term":
                v = spec["value"] if isinstance(spec, dict) else spec
                _add([str(v)])
                return
            if isinstance(spec, dict):
                text = spec["query"]
                analyzer = spec.get("analyzer", "whitespace")
            else:
                text, analyzer = spec, "whitespace"
            _add(_analyze(str(text), analyzer))

    _walk(q)
    return out


def _sampler_scaled_metrics(aggs: dict) -> list[tuple[str, str]]:
    """Names (+ kinds) of the sub-aggs random_sampler must scale by
    1/probability: ``sum`` and ``value_count`` (ES's
    SamplingContext.finalizeSampling — ADVICE r16). Recurses through
    nested ``aggs`` trees; avg/min/max/cardinality are left alone."""
    found: list[tuple[str, str]] = []
    for name, spec in aggs.items():
        if not isinstance(spec, dict):
            continue
        for kind in ("sum", "value_count"):
            if kind in spec:
                found.append((name, kind))
        if "aggs" in spec:
            found.extend(_sampler_scaled_metrics(spec["aggs"]))
    return found


def search_aggs(
    df: DataFrame, request: dict, lookups: dict | None = None
) -> DataFrame:
    """The aggregations side of a ``_search`` request: runtime fields
    materialize first (round 11 — previously only the hits side
    honored ``runtime_mappings``), the query filters, then the agg
    tree compiles over the filtered frame.

    ``significant_terms`` (round 12): a root-level
    ``{"significant_terms": {"field": f, ...}}`` agg needs the
    UNFILTERED frame too (the query defines the FOREGROUND, the
    whole frame is ES's default superset background), so it takes a
    dedicated one-scan plan here — a flag column instead of two
    passes — scoring with the same JLH micro-integers the corpus op
    pins (``retrieval.significant_terms``)."""
    # unconditional (ADVICE r16): resolve_terms_lookups itself raises
    # the loud "pass the table via the lookups= kwarg" when a LOOKUP
    # body appears and lookups is None — guarding on the kwarg here
    # let an un-resolved lookup dict fall through to the terms arm as
    # a silent no-match over the dict's key names.
    request = resolve_terms_lookups(request, lookups)
    for name, spec in (request.get("runtime_mappings") or {}).items():
        df = df.withColumn(name, F.expr(spec["script_sql"]))
    aggs = request.get("aggs") or {}
    if len(aggs) == 1:
        (aname, aspec), = aggs.items()
        if "significant_terms" in aspec:
            if "aggs" in aspec:
                raise ValueError(
                    "significant_terms sub-aggregations are not "
                    "supported (term buckets only)"
                )
            return _significant_terms_keyword(
                df,
                aname,
                aspec["significant_terms"],
                compile_query(request.get("query")),
            )
        # significant_text (round 13): the analyzed-token sibling of
        # significant_terms — Kibana's "significant words in this
        # message field" — delegated to the corpus operator
        # (retrieval.significant_terms: distinct-token explode, one
        # word-count groupBy, 1-row sizes broadcast, JLH micro
        # scores), the query as foreground, flat ES-row shape
        if "significant_text" in aspec:
            if "aggs" in aspec:
                raise ValueError(
                    "significant_text sub-aggregations are not "
                    "supported (term buckets only)"
                )
            body = aspec["significant_text"]
            # the text path delegates to the corpus operator, which
            # scores JLH only — a heuristic/background knob would be
            # silently ignored (review-confirmed), so raise loudly
            # like the rest of the dialect
            bad = [
                k for k in (*_SIG_HEURISTICS, "background_filter")
                if k in body and k != "jlh"
            ]
            if bad:
                raise ValueError(
                    f"significant_text supports the JLH default "
                    f"only (the corpus operator's scoring); got "
                    f"{bad} — use significant_terms for the "
                    "heuristic/background knobs"
                )
            from .retrieval import significant_terms as _sig_text

            out = _sig_text(
                df,
                _false_safe(compile_query(request.get("query"))),
                text_col=body["field"],
                k=int(body.get("size", 10)),
                min_fg=int(body.get("min_doc_count", 3)),
                analyzer=body.get("analyzer", "whitespace"),
            )
            return out.select(
                F.lit(1).cast("int").alias("level"),
                F.col("term").alias(aname),
                F.col("fg_df").alias("doc_count"),
                F.col("df").alias("bg_count"),
                "score_micro",
            )
        # terms > significant_terms (round 13, VERDICT r12 Next #3):
        # the Kibana "unusual terms per service" shape — per parent
        # bucket the FOREGROUND is that bucket's query hits, the
        # BACKGROUND stays the whole index (ES's default superset)
        if (
            "terms" in aspec
            and len(aspec.get("aggs") or {}) == 1
            and "significant_terms" in next(iter(aspec["aggs"].values()))
        ):
            (sname, sspec), = aspec["aggs"].items()
            if "aggs" in sspec:
                raise ValueError(
                    "significant_terms sub-aggregations are not "
                    "supported (term buckets only)"
                )
            return _significant_terms_under_terms(
                df,
                aname,
                aspec["terms"],
                sname,
                sspec["significant_terms"],
                compile_query(request.get("query")),
            )
        # terms > string_stats with entropy (round 13 — the r12
        # "smaller bounds" list): ES's string_stats always reports
        # Shannon entropy, which needs a per-(bucket, char) histogram
        # — a second word-count-shaped shuffle the one-rollup plan
        # cannot carry, so an explicit `"entropy": true` routes this
        # dedicated two-groupBy path (the in-rollup string_stats
        # keeps the 4 length stats without it)
        if (
            "terms" in aspec
            and len(aspec.get("aggs") or {}) == 1
            and "string_stats"
            in (_ss := next(iter(aspec["aggs"].values())))
            and (
                _ss["string_stats"].get("entropy")
                or _ss["string_stats"].get("show_distribution")
            )
        ):
            (sname, sspec), = aspec["aggs"].items()
            # show_distribution (round 13): ES's per-char probability
            # MAP as one row per (bucket, char) — a different output
            # grain, so it takes precedence and omits the length
            # stats/entropy columns (documented flat reading)
            if sspec["string_stats"].get("show_distribution"):
                return _string_stats_distribution_under_terms(
                    df.filter(compile_query(request.get("query"))),
                    aname,
                    aspec["terms"],
                    sname,
                    sspec["string_stats"],
                )
            return _string_stats_entropy_under_terms(
                df.filter(compile_query(request.get("query"))),
                aname,
                aspec["terms"],
                sname,
                sspec["string_stats"],
            )
        # cumulative_cardinality (round 13): Kibana's "total unique
        # users over time". ES computes it by merging HLL sketches
        # cumulatively; with this engine's EXACT cardinality the
        # exact reading is: a value contributes at its FIRST bucket,
        # so cum(k) = Σ_{j≤k} |{v : first_bucket(v) = j}| — one
        # groupBy(value) for first buckets, one bucket-frame-sized
        # count, a running sum joined back onto the regular frame
        # (gap-filled buckets carry the running value forward).
        # Single-level sequential chains only.
        if any(
            "cumulative_cardinality" in (sub or {})
            for sub in (aspec.get("aggs") or {}).values()
        ):
            return _cumulative_cardinality_plan(
                df.filter(compile_query(request.get("query"))),
                aname,
                aspec,
            )
        # sampler / diversified_sampler (round 13 — the r12 "smaller
        # bounds" list): compute sub-aggs over a bounded, DETERMINISTIC
        # sample. ES samples per shard by score — meaningless on a
        # lake — so the body must carry an explicit `sort` (engine
        # extension, PARITY #20); the sample is the global top
        # shard_size under it (one TakeOrdered, no shuffle), after
        # diversified's per-field-value cap (one field-partitioned
        # row_number; docs MISSING the field are never deduplicated,
        # like ES). The sampler bucket's own row is not emitted — the
        # returned frame is the sub-tree over the sampled docs.
        # global (round 13): the query-IGNORING scope — Kibana's
        # "overall numbers next to the filtered ones". The sub-tree
        # compiles over the UNFILTERED frame (runtime mappings
        # already applied above); like the sampler buckets, the
        # global bucket's own single row is not emitted — the
        # returned frame IS the sub-tree.
        if "global" in aspec:
            if aspec["global"]:
                raise ValueError("global takes no parameters ({})")
            if "aggs" not in aspec:
                raise ValueError("global needs sub-aggregations")
            return compile_aggs(df, aspec["aggs"])
        # random_sampler (round 16): probability sampling whose
        # sub-aggs approximate the full data at a fraction of the
        # scan cost — ES's recipe for dashboards over huge indices.
        # ES samples RANDOMLY per shard (seed reproduces only a
        # given shard layout) — no deterministic lake reading, so
        # like sampler's `sort` the body must carry an explicit
        # `field` doc-identity column (engine extension, PARITY
        # #35): a doc is sampled iff its portable md5 bucket of
        # (seed, field) lands under probability (quantized to
        # 1/10000 — the hash_bucket primitive, spelled identically
        # in the DuckDB oracle). doc_count columns in the sub-tree
        # scale by 1/probability with ES's rounding, and so do sum /
        # value_count metrics (ES SamplingContext.finalizeSampling —
        # ADVICE r16); avg/min/max/cardinality stay unscaled
        # (unbiased or set-valued under uniform sampling, ES
        # behavior).
        if "random_sampler" in aspec:
            body = aspec["random_sampler"]
            if "aggs" not in aspec:
                raise ValueError("random_sampler needs sub-aggregations")
            p = float(body["probability"])
            if not (0.0 < p <= 0.5 or p == 1.0):
                raise ValueError(
                    "random_sampler probability must be in (0, 0.5] "
                    "or exactly 1 (the ES contract)"
                )
            if "field" not in body:
                raise ValueError(
                    "random_sampler needs an explicit 'field' "
                    "doc-identity column — ES samples randomly per "
                    "shard, which has no deterministic lake reading "
                    "(PARITY #35)"
                )
            from .sampling import hash_bucket

            base = df.filter(compile_query(request.get("query")))
            if p < 1.0:
                key = F.concat(
                    F.lit(str(body.get("seed", 0)) + ":"),
                    F.col(body["field"]).cast("string"),
                )
                base = base.filter(
                    hash_bucket(key) < F.lit(int(round(p * 10_000)))
                )
            out = compile_aggs(base, aspec["aggs"])
            if p < 1.0 and "doc_count" in out.columns:
                out = out.withColumn(
                    "doc_count",
                    F.round(F.col("doc_count") / F.lit(p)).cast("long"),
                )
            if p < 1.0:
                # ES's finalizeSampling also scales sum and
                # value_count metrics by 1/probability (ADVICE
                # r16); value_count keeps ES's long rounding.
                for mname, mkind in _sampler_scaled_metrics(
                    aspec["aggs"]
                ):
                    if mname not in out.columns:
                        raise ValueError(
                            f"random_sampler: {mkind} sub-agg "
                            f"{mname!r} produced no column to "
                            "scale (unsupported nesting)"
                        )
                    c = F.col(mname) / F.lit(p)
                    if mkind == "value_count":
                        c = F.round(c)
                    out = out.withColumn(
                        mname,
                        c.cast(out.schema[mname].dataType),
                    )
            return out
        if "sampler" in aspec or "diversified_sampler" in aspec:
            skind = (
                "sampler" if "sampler" in aspec else "diversified_sampler"
            )
            body = aspec[skind]
            if "aggs" not in aspec:
                raise ValueError(f"{skind} needs sub-aggregations")
            if "sort" not in body:
                raise ValueError(
                    f"{skind} needs an explicit 'sort' — ES samples "
                    "per-shard by score, which has no deterministic "
                    "lake-side reading (PARITY #20)"
                )
            order = _sort_cols(body["sort"])
            base = df.filter(compile_query(request.get("query")))
            if skind == "diversified_sampler":
                fld = body["field"]
                cap = int(body.get("max_docs_per_value", 1))
                if cap < 1:
                    raise ValueError("max_docs_per_value must be >= 1")
                w = Window.partitionBy(fld).orderBy(*order)
                base = (
                    base.withColumn("_dsr", F.row_number().over(w))
                    .filter(F.col(fld).isNull() | (F.col("_dsr") <= cap))
                    .drop("_dsr")
                )
            sample = base.orderBy(*order).limit(
                int(body.get("shard_size", 100))
            )
            return compile_aggs(sample, aspec["aggs"])
    return compile_aggs(
        df.filter(compile_query(request.get("query"))), request["aggs"]
    )


_SIG_HEURISTICS = (
    "jlh", "chi_square", "mutual_information", "gnd", "percentage",
)


def _sig_heuristic(body: dict) -> tuple[str, dict]:
    """The significance heuristic a significant_terms/_text body
    requests (round 14, VERDICT r13 Next #5): one of the ES one-key
    knobs — ``jlh`` (the default, and what an empty body means),
    ``chi_square``, ``mutual_information``, ``gnd``, ``percentage``.
    At most one; ``background_is_superset: false`` raises (the whole
    counts frame assumes the superset background, like the rest of
    the family)."""
    keys = [k for k in _SIG_HEURISTICS if k in body]
    if len(keys) > 1:
        raise ValueError(
            f"one significance heuristic per agg, got {keys}"
        )
    heur = keys[0] if keys else "jlh"
    opts = body.get(heur) or {}
    if opts.get("background_is_superset") is False:
        raise ValueError(
            "background_is_superset=false is not supported: the "
            "one-scan counts frame builds the superset background"
        )
    return heur, opts


def _sig_score_expr(heur: str, opts: dict) -> Column:
    """The heuristic's score tree over the shared counts columns
    (``doc_count`` = fg term docs, ``bg_count`` = bg term docs,
    ``_fgd`` = foreground size, ``_nd`` = background size) — the
    root-keyword and per-bucket paths score through this one
    function, floored to micro longs by the caller (the family's
    hash-exactness discipline); significant_text delegates to the
    corpus operator's JLH and raises on heuristic knobs. Formulas are the published readings
    over the background-is-superset 2×2 contingency (N11 = fg,
    N01 = bg − fg, N10 = fgSize − fg, N00 = N − bg − N10):

    - ``jlh``: (fg% − bg%)·(fg%/bg%) — the pinned corpus tree.
    - ``chi_square``: N·(N11·N00 − N01·N10)² / (N1_·N_1·N0_·N_0),
      the textbook 2×2 statistic; a zero margin (degenerate
      contingency) scores NULL and drops, the gnd convention.
    - ``mutual_information``: Σ over the 4 cells of
      (Nxy/N)·log2(Nxy·N / (Nx_·N_y)), empty cells contributing 0.
    - ``gnd``: exp(−d), d = (max(ln N1_, ln N_1) − ln N11) /
      (ln N − min(ln N1_, ln N_1)) — the Google Normalized Distance
      inverted to a similarity; the degenerate everywhere-term
      (denominator 0) scores NULL and drops.
    - ``percentage``: fg/bg.

    ``include_negatives: false`` (chi_square / mutual_information)
    drops anti-correlated terms — fg share below the rest-of-index
    share — by scoring them NULL. ES's exact guard/smoothing
    constants are not reproducible offline; these documented trees
    are pinned cross-engine instead (PARITY #20)."""
    fg = F.col("doc_count").cast("double")
    bg = F.col("bg_count").cast("double")
    fgs = F.col("_fgd").cast("double")
    n = F.col("_nd").cast("double")
    if heur == "jlh":
        fgp, bgp = fg / fgs, bg / n
        return (fgp - bgp) * (fgp / bgp)
    if heur == "percentage":
        return fg / bg
    n11 = fg
    n01 = bg - fg
    n10 = fgs - fg
    n00 = n - bg - n10
    n1_ = n11 + n10
    n_1 = n11 + n01
    n0_ = n01 + n00
    n_0 = n10 + n00
    if heur == "gnd":
        # libm discipline (the entropy/softmax precedent): the exp
        # output rounds to 12dp before the micro floor so both
        # engines' libm agree past the boundary
        d = (
            F.greatest(F.log(n1_), F.log(n_1)) - F.log(n11)
        ) / (F.log(n) - F.least(F.log(n1_), F.log(n_1)))
        return F.when(F.log(n) != F.least(F.log(n1_), F.log(n_1)),
                      F.round(F.exp(-d), 12))
    if heur == "chi_square":
        # degenerate contingency (any zero margin — e.g. every doc in
        # the foreground, or a term absent outside it) has no defined
        # statistic: score NULL and drop, the documented convention
        # the gnd branch already uses (round 15, ADVICE r14 — the
        # bare division would NULL silently instead of by contract)
        score = F.when(
            (n_1 > 0) & (n1_ > 0) & (n0_ > 0) & (n_0 > 0),
            (n * F.pow(n11 * n00 - n01 * n10, F.lit(2.0)))
            / (n_1 * n1_ * n0_ * n_0),
        )
    elif heur == "mutual_information":
        # each cell 12dp-rounded before the 4-term sum (the entropy
        # row's exact libm discipline)
        def _cell(nxy, nx_, n_y):
            return F.when(
                nxy > 0,
                F.round((nxy / n) * F.log2((nxy * n) / (nx_ * n_y)), 12),
            ).otherwise(F.lit(0.0))

        score = (
            _cell(n11, n1_, n_1) + _cell(n01, n0_, n_1)
            + _cell(n10, n1_, n_0) + _cell(n00, n0_, n_0)
        )
    else:
        raise ValueError(f"unknown significance heuristic {heur!r}")
    if opts.get("include_negatives") is False:
        return F.when(n11 / n_1 >= n10 / n_0, score)
    return score


def _significant_terms_keyword(
    df: DataFrame, name: str, body: dict, fg_pred: Column
) -> DataFrame:
    """Root significant_terms over a KEYWORD field: one scan carries
    a foreground flag, groupBy(field) emits (fg_df, df) conditional
    counts, the one-row (fg_docs, n_docs) sizes broadcast back, and
    the JLH score — ``1e6·((fg% − bg%)·(fg%/bg%))`` floored to micro
    integers, the exact parenthesization the corpus twin pins —
    ranks the top-``size``. Flat columns: ``(level, <name>,
    doc_count, bg_count, score_micro)`` with doc_count = fg_df, like
    the ES response.

    ``background_filter`` (round 13): ES's "compare against THIS
    slice, not the whole index" knob (the Kibana filtered-dashboard
    shape) — when present, bg counts/sizes aggregate only docs
    matching it (same one-scan flag-column plan, a second flag)."""
    fg = F.when(_false_safe(fg_pred), 1).otherwise(0)
    bgf = body.get("background_filter")
    bg = (
        F.when(_false_safe(compile_query(bgf)), 1).otherwise(0)
        if bgf is not None
        else F.lit(1)
    )
    d = df.select(
        fg.alias("_fg"), bg.alias("_bg"),
        F.col(body["field"]).alias(name),
    )
    sizes = d.agg(
        F.sum("_fg").cast("long").alias("_fgd"),
        F.sum("_bg").cast("long").alias("_nd"),
    )
    min_fg = int(body.get("min_doc_count", 3))
    size = int(body.get("size", 10))
    counts = (
        d.filter(F.col(name).isNotNull())
        .groupBy(name)
        .agg(
            F.sum("_fg").cast("long").alias("doc_count"),
            F.sum("_bg").cast("long").alias("bg_count"),
        )
        # a term absent from the background slice has no defined
        # JLH percentage (ES expects the foreground to be a subset
        # of the background) — it drops rather than scoring inf
        .filter((F.col("doc_count") >= min_fg) & (F.col("bg_count") > 0))
    )
    heur, hopts = _sig_heuristic(body)
    score = F.floor(F.lit(1e6) * _sig_score_expr(heur, hopts)).cast(
        "long"
    )
    return (
        counts.join(F.broadcast(sizes))
        .withColumn("score_micro", score)
        .filter(F.col("score_micro") > 0)
        .drop("_fgd", "_nd")
        .orderBy(F.col("score_micro").desc(), F.col(name).asc())
        .limit(size)
        .select(
            F.lit(1).cast("int").alias("level"),
            name,
            "doc_count",
            "bg_count",
            "score_micro",
        )
    )


def _cumulative_cardinality_plan(
    df: DataFrame, aname: str, aspec: dict
) -> DataFrame:
    """``cumulative_cardinality`` under a single sequential root
    level (round 13): the regular frame comes from ``compile_aggs``
    with the pipeline pruned out; each referenced exact-cardinality
    field contributes one groupBy(value)→first-bucket pass whose
    per-bucket new-value counts running-sum over the joined frame —
    so every bucket (including gap-filled empties) reports the
    running distinct count exactly as ES's merged-sketch response,
    but exact."""
    subaggs = aspec.get("aggs") or {}
    pipes = {
        n: s["cumulative_cardinality"]
        for n, s in subaggs.items()
        if "cumulative_cardinality" in s
    }
    lvl = _parse_chain({aname: {
        k: v for k, v in aspec.items() if k != "aggs"
    }})[0]
    if lvl.kind not in ("date_histogram", "histogram"):
        raise ValueError(
            "cumulative_cardinality needs a sequential "
            "(histogram-family) parent"
        )
    if any(
        any(k in _BUCKET_KINDS for k in s)
        for n, s in subaggs.items()
        if n not in pipes
    ):
        # the running-sum window orders the WHOLE frame by the root
        # key — a deeper bucket level would interleave its rows
        raise ValueError(
            "cumulative_cardinality supports single-level chains "
            "only (no bucket sub-aggregations beside it)"
        )
    rest = {
        aname: {
            **{k: v for k, v in aspec.items() if k != "aggs"},
            "aggs": {
                n: s for n, s in subaggs.items() if n not in pipes
            },
        }
    }
    frame = compile_aggs(df, rest)
    key = lvl.key_expr()
    w = Window.orderBy(F.col(aname).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    for pname, spec in pipes.items():
        path = spec["buckets_path"]
        card = subaggs.get(path) or {}
        if "cardinality" not in card:
            raise ValueError(
                f"cumulative_cardinality buckets_path {path!r} must "
                "reference a sibling cardinality agg"
            )
        fld = card["cardinality"]["field"]
        firsts = (
            df.select(key.alias(aname), F.col(fld).alias("_v"))
            .filter(F.col(aname).isNotNull() & F.col("_v").isNotNull())
            .groupBy("_v")
            .agg(F.min(aname).alias(aname))
            .groupBy(aname)
            .agg(F.count(F.lit(1)).alias(f"_new_{pname}"))
        )
        frame = frame.join(F.broadcast(firsts), aname, "left")
        frame = frame.withColumn(
            pname,
            F.sum(F.coalesce(F.col(f"_new_{pname}"), F.lit(0)))
            .over(w)
            .cast("long"),
        ).drop(f"_new_{pname}")
    return frame.orderBy(F.col(aname).asc())


def _string_stats_entropy_under_terms(
    df: DataFrame, pname: str, pbody: dict, name: str, body: dict
) -> DataFrame:
    """``terms > string_stats`` with Shannon entropy (round 13): the
    4 length stats come from one groupBy; the entropy needs the
    per-(bucket, char) histogram — one char explode + one
    word-count-shaped groupBy — then ``-Σ p·log2(p)`` with the libm
    discipline (each term 12dp-rounded, exact-decimal sum, 6dp
    output; Spark's log2 and DuckDB's log2 agree post-rounding).
    Chars come from ``regexp_extract_all(v, '.')`` in both engines —
    newlines are not counted (documented bound; ES counts every
    char). A bucket with no characters reports entropy 0.0 like ES.
    Flat columns: ``(level=1, <parent>, doc_count, <name>_count,
    <name>_min_length, <name>_max_length, <name>_avg_length,
    <name>_entropy)``."""
    fld = F.col(body["field"])
    d = df.select(
        F.col(pbody["field"]).alias(pname), fld.alias("_v")
    ).filter(F.col(pname).isNotNull())
    psize = int(pbody.get("size", 10))
    stats = (
        d.groupBy(pname)
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count("_v").cast("double").alias(f"{name}_count"),
            F.min(F.length("_v")).cast("double").alias(
                f"{name}_min_length"
            ),
            F.max(F.length("_v")).cast("double").alias(
                f"{name}_max_length"
            ),
            (
                F.sum(F.length("_v").cast("decimal(18,6)")).cast("double")
                / F.count("_v")
            ).alias(f"{name}_avg_length"),
        )
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.orderBy(
                    F.col("doc_count").desc(), F.col(pname).asc()
                )
            ),
        )
        .filter(F.col("_prank") <= psize)
        .drop("_prank")
    )
    ch = (
        d.filter(F.col("_v").isNotNull())
        .select(
            pname,
            F.explode(F.expr("regexp_extract_all(_v, '.', 0)")).alias(
                "_c"
            ),
        )
        .groupBy(pname, "_c")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    wb = Window.partitionBy(pname)
    n_tot = F.sum("_m").over(wb)
    p = F.col("_m") / n_tot
    term = F.round(p * F.log2(p), 12)
    ent = (
        ch.withColumn("_t", term.cast("decimal(18,12)"))
        .groupBy(pname)
        .agg(
            (-F.sum("_t")).cast("double").alias("_ent_raw")
        )
        .select(pname, F.round("_ent_raw", 6).alias(f"{name}_entropy"))
    )
    return (
        stats.join(ent, pname, "left")
        .withColumn(
            f"{name}_entropy",
            F.coalesce(F.col(f"{name}_entropy"), F.lit(0.0)),
        )
        .orderBy(F.col(pname).asc())
        .select(
            F.lit(1).cast("int").alias("level"),
            pname,
            "doc_count",
            f"{name}_count",
            f"{name}_min_length",
            f"{name}_max_length",
            f"{name}_avg_length",
            f"{name}_entropy",
        )
    )


def _string_stats_distribution_under_terms(
    df: DataFrame, pname: str, pbody: dict, name: str, body: dict
) -> DataFrame:
    """``terms > string_stats`` with ``show_distribution`` (round
    13): ES returns a per-character probability MAP per bucket; the
    flat-frame reading is one row per (bucket, character) — the same
    char-histogram groupBy the entropy path runs, each char's
    probability = its count / the bucket's total chars. Chars come
    from ``regexp_extract_all(v, '.')`` (newlines uncounted, the
    entropy path's documented bound). Columns: ``(level=1,
    <parent>, doc_count, <name>_char, <name>_char_count,
    <name>_prob_r6)``, ordered by (parent, char)."""
    fld = F.col(body["field"])
    d = df.select(
        F.col(pbody["field"]).alias(pname), fld.alias("_v")
    ).filter(F.col(pname).isNotNull())
    psize = int(pbody.get("size", 10))
    parents = (
        d.groupBy(pname)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.orderBy(
                    F.col("doc_count").desc(), F.col(pname).asc()
                )
            ),
        )
        .filter(F.col("_prank") <= psize)
        .drop("_prank")
    )
    ch = (
        d.filter(F.col("_v").isNotNull())
        .select(
            pname,
            F.explode(F.expr("regexp_extract_all(_v, '.', 0)")).alias(
                f"{name}_char"
            ),
        )
        .groupBy(pname, f"{name}_char")
        .agg(F.count(F.lit(1)).alias(f"{name}_char_count"))
    )
    wb = Window.partitionBy(pname)
    prob = F.col(f"{name}_char_count") / F.sum(
        f"{name}_char_count"
    ).over(wb)
    return (
        parents.join(ch, pname, "inner")
        .withColumn(f"{name}_prob_r6", F.round(prob, 6))
        .withColumn(
            f"{name}_char_count",
            F.col(f"{name}_char_count").cast("double"),
        )
        .orderBy(F.col(pname).asc(), F.col(f"{name}_char").asc())
        .select(
            F.lit(1).cast("int").alias("level"),
            pname,
            "doc_count",
            f"{name}_char",
            f"{name}_char_count",
            f"{name}_prob_r6",
        )
    )


def _significant_terms_under_terms(
    df: DataFrame,
    pname: str,
    pbody: dict,
    name: str,
    body: dict,
    fg_pred: Column,
) -> DataFrame:
    """``terms > significant_terms`` (round 13, VERDICT r12 Next #3):
    per parent bucket, which terms are overrepresented vs the whole
    index. One scan feeds two word-count-shaped groupBys — per-term
    GLOBAL background counts over the unfiltered frame, and
    per-(parent, term) foreground counts over the query hits — and
    the root path's 1-row sizes broadcast becomes a bucket-frame-
    sized parent-sizes join (broadcast: it is capped by the parent
    terms cardinality). The JLH tree is character-identical to the
    root/corpus pins: ``1e6·((fg% − bg%)·(fg%/bg%))`` floored to
    micro longs, per-bucket top-``size`` by (score desc, term asc).
    Flat columns: ``(level=2, <parent>, <name>, doc_count, bg_count,
    score_micro)`` ordered by parent then rank, like the ES
    response's nested buckets read off in order."""
    fg = F.when(_false_safe(fg_pred), 1).otherwise(0)
    d = df.select(
        fg.alias("_fg"),
        F.col(pbody["field"]).alias(pname),
        F.col(body["field"]).alias(name),
    )
    # background: the whole index — per-term counts + the 1-row total
    bg = (
        d.filter(F.col(name).isNotNull())
        .groupBy(name)
        .agg(F.count(F.lit(1)).cast("long").alias("bg_count"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("_nd"))
    # foreground: the parent buckets' query hits (NULL parent keys
    # drop per ES terms semantics; NULL terms still count in sizes)
    fgrows = d.filter((F.col("_fg") == 1) & F.col(pname).isNotNull())
    psize = int(pbody.get("size", 10))
    psizes = (
        fgrows.groupBy(pname)
        .agg(F.count(F.lit(1)).cast("long").alias("_fgd"))
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.orderBy(F.col("_fgd").desc(), F.col(pname).asc())
            ),
        )
        .filter(F.col("_prank") <= psize)
        .drop("_prank")
    )
    min_fg = int(body.get("min_doc_count", 3))
    size = int(body.get("size", 10))
    counts = (
        fgrows.filter(F.col(name).isNotNull())
        .groupBy(pname, name)
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .filter(F.col("doc_count") >= min_fg)
    )
    heur, hopts = _sig_heuristic(body)
    score = F.floor(F.lit(1e6) * _sig_score_expr(heur, hopts)).cast("long")
    return (
        counts.join(F.broadcast(psizes), pname)
        .join(bg, name)
        .join(F.broadcast(nd))
        .withColumn("score_micro", score)
        .filter(F.col("score_micro") > 0)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(pname).orderBy(
                    F.col("score_micro").desc(), F.col(name).asc()
                )
            ),
        )
        .filter(F.col("_rk") <= size)
        .orderBy(F.col(pname).asc(), F.col("_rk").asc())
        .select(
            F.lit(2).cast("int").alias("level"),
            pname,
            name,
            "doc_count",
            "bg_count",
            "score_micro",
        )
    )


# ---------------------------------------------------------------------------
# oracle-checked query forms
# ---------------------------------------------------------------------------


def q_es_search_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A saved ES search request replayed on the lake: bool query
    with range/terms filters, a NULL-exact must_not, a counted
    should (wildcard + range), sort + from/size pagination."""
    ev = load(spark, sf_dir, "events")
    return search(
        ev,
        {
            "query": {
                "bool": {
                    "filter": [
                        {"range": {"ts": {"gte": "2024-01-02 00:00:00",
                                          "lt": "2024-01-20 00:00:00"}}},
                        {"terms": {"event_type": ["click", "view", "purchase"]}},
                    ],
                    "must_not": [{"term": {"user_id": 13}}],
                    "should": [
                        {"range": {"value": {"gte": 120}}},
                        {"wildcard": {"props": "*8?}"}},
                    ],
                    "minimum_should_match": 1,
                }
            },
            "sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}],
            "from": 5,
            "size": 25,
            "_source": ["event_id", "ts", "event_type", "value"],
        },
    )


def q_es_aggs_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram(day) > terms(event_type, size 3) with a
    cardinality metric on the day level and avg/max on the leaf —
    the classic dashboard agg tree, one rollup shuffle."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"match_all": {}},
            "aggs": {
                "by_day": {
                    "date_histogram": {"field": "ts", "calendar_interval": "day"},
                    "aggs": {
                        "uniq_users": {"cardinality": {"field": "user_id"}},
                        "by_type": {
                            "terms": {"field": "event_type", "size": 3},
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}},
                                "max_value": {"max": {"field": "value"}},
                            },
                        },
                    },
                }
            },
        },
    )


def q_es_range_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range agg over a queried frame, with exact-variant
    cardinality and percentiles metrics."""
    o = load(spark, sf_dir, "orders")
    return search_aggs(
        o,
        {
            "query": {"range": {"o_orderdate": {"gte": "1995-01-01 00:00:00"}}},
            "aggs": {
                "price_band": {
                    "range": {
                        "field": "o_totalprice",
                        "ranges": [
                            {"key": "cheap", "to": 100000},
                            {"key": "mid", "from": 100000, "to": 300000},
                            {"key": "big", "from": 300000},
                        ],
                    },
                    "aggs": {
                        "uniq_custs": {"cardinality": {"field": "o_custkey"}},
                        "price": {
                            "percentiles": {
                                "field": "o_totalprice",
                                "percents": [50, 90],
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric histogram (interval 50) with min_doc_count pruning and
    a value_count metric."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "value_bucket": {
                    "histogram": {
                        "field": "value",
                        "interval": 50,
                        "min_doc_count": 5,
                    },
                    "aggs": {"n_values": {"value_count": {"field": "value"}}},
                }
            },
        },
    )


def q_es_date_histogram_gapfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Kibana time-series shape (VERDICT r09 Next #4): hourly
    date_histogram over a sparse slice (purchases only — ~7% of hours
    are empty at sf0.01) with ``min_doc_count: 0`` + ``extended_bounds``
    reaching one day past the data on both sides. Empty buckets are
    synthesized with doc_count 0 / NULL metrics by one explode over
    the bucket frame — never a union or second scan."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            # 2023-12-31T00:00Z .. 2024-01-31T23:00Z —
                            # strictly wider than the generators' Jan
                            # 2024 window at every SF
                            "min": 1703980800000,
                            "max": 1706742000000,
                        },
                    },
                    "aggs": {"sum_value": {"sum": {"field": "value"}}},
                }
            },
        },
    )


def q_es_gapfill_moving_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional pipelines over a gap-filled grid (round 12, VERDICT
    r11 Next #8): the hourly purchase series with ``min_doc_count: 0``
    + ``extended_bounds``, a trailing-3 ``moving_fn`` sum and a lag-1
    ``serial_diff`` computed AFTER the fill — empty hours occupy
    window positions (their NULL sums drop from the aggregates, ES's
    gap_policy 'skip'), so a bucket following a gap differs from the
    pre-fill reading the r11 raise guarded against."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            "min": 1703980800000,
                            "max": 1706742000000,
                        },
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "mov3": {
                            "moving_fn": {
                                "buckets_path": "sum_value",
                                "window": 3,
                                "script": "MovingFunctions.sum(values)",
                            }
                        },
                        "diff1": {
                            "serial_diff": {"buckets_path": "sum_value"}
                        },
                    },
                }
            },
        },
    )


def q_es_moving_fn_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The widened ``MovingFunctions`` set (round 13, VERDICT r12
    Next #5; round 14 adds holt) over a gap-filled hourly grid:
    trailing-4 ``stdDev`` (the extended_stats moment discipline in a
    window), ``linearWeightedAvg`` (weights 1..k over the window's
    non-NULL values), ``ewma`` (α=0.3 left fold) and ``holt``
    (α=0.3, β=0.1 double exponential smoothing, raw-double output —
    see the branch comment on the 6dp boundary) — empty hours occupy
    positions, their NULLs dropping from every function's values
    array (gap_policy skip)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            "min": 1703980800000,
                            "max": 1706742000000,
                        },
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "mstd": {
                            "moving_fn": {
                                "buckets_path": "sum_value",
                                "window": 4,
                                "script": "MovingFunctions.stdDev(values,"
                                " MovingFunctions.unweightedAvg(values))",
                            }
                        },
                        "lwa": {
                            "moving_fn": {
                                "buckets_path": "sum_value",
                                "window": 4,
                                "script":
                                    "MovingFunctions.linearWeightedAvg"
                                    "(values)",
                            }
                        },
                        "ew": {
                            "moving_fn": {
                                "buckets_path": "sum_value",
                                "window": 4,
                                "script":
                                    "MovingFunctions.ewma(values, 0.3)",
                            }
                        },
                        "ho": {
                            "moving_fn": {
                                "buckets_path": "sum_value",
                                "window": 4,
                                "script": "MovingFunctions.holt"
                                          "(values, 0.3, 0.1)",
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_date_histogram_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram ``time_zone`` (round 12) — the Kibana
    browser-timezone default as a fixed offset: daily purchase
    buckets at +05:30 LOCAL midnights (keys = those boundaries' UTC
    epoch millis, so every key ≡ -offset mod day), gap-filled over
    extended bounds on the SHIFTED grid."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_day": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "day",
                        "time_zone": "+05:30",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            "min": 1703980800000,
                            "max": 1706742000000,
                        },
                    },
                    "aggs": {"sum_value": {"sum": {"field": "value"}}},
                }
            },
        },
    )


def q_es_date_histogram_tz_iana(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """date_histogram under an IANA ``time_zone`` (round 13, VERDICT
    r12 Next #1) — the literal Kibana request shape: the browser
    zone ``America/New_York`` on a daily series. Buckets anchor at
    LOCAL midnights (keys = their UTC epoch millis: 05:00Z under
    EST, 04:00Z under EDT) and the gap grid is extended through the
    2024-03-10 spring-forward transition, whose local day is 23
    instant-hours wide — the step the fixed-offset path cannot
    express."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_day": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "day",
                        "time_zone": "America/New_York",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            # 2023-12-31T00:00Z .. 2024-03-20T00:00Z —
                            # strictly wider than the generators'
                            # Jan-2024 window at every SF, with the
                            # DST boundary inside the filled range
                            "min": 1703980800000,
                            "max": 1710892800000,
                        },
                    },
                    "aggs": {"sum_value": {"sum": {"field": "value"}}},
                }
            },
        },
    )


def q_es_date_histogram_gapfill_month(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The monthly-dashboard shape (round 11, VERDICT r10 Next #5):
    calendar_interval month with ``min_doc_count: 0`` +
    ``extended_bounds`` Jul 2023 → Jun 2024, strictly wider than the
    generators' Jan-2024 window at every SF — the variable-width
    grid steps by INTERVAL 1 MONTH timestamp sequences instead of
    long addition; same windows, same one explode."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_month": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "month",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            # 2023-07-01T00:00Z .. 2024-06-01T00:00Z
                            "min": 1688169600000,
                            "max": 1717200000000,
                        },
                    },
                    "aggs": {"sum_value": {"sum": {"field": "value"}}},
                }
            },
        },
    )


def q_es_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named ``filters`` buckets (a doc can match several) with an
    avg metric: compiled as matching-names array → explode."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "segment": {
                    "filters": {
                        "filters": {
                            "errors": {"term": {"event_type": "error"}},
                            "big_value": {"range": {"value": {"gte": 150}}},
                        }
                    },
                    "aggs": {"avg_value": {"avg": {"field": "value"}}},
                }
            },
        },
    )


def percolate(
    docs: DataFrame, queries: dict[str, dict], id_cols: list[str] | None = None
) -> DataFrame:
    """ES percolate — the REVERSE search: which of N stored queries
    match each incoming document? Compiled as one projection pass:
    every stored query becomes a NULL-safe boolean expression, the
    matching query ids collect into an array, and ``explode`` emits
    one ``(doc, query_id)`` row per hit — zero shuffles, one scan,
    docs that match nothing disappear (as in the ES response).

    Plan size grows linearly with the stored-query count — fine for
    the hundreds-of-alert-rules case this full-DSL path serves; a
    corpus of MILLIONS of stored queries is :func:`percolate_bulk`
    (round 10): conjunct-class rules held as DATA and matched by
    equi-joins, plan O(1) in rule count."""
    id_cols = id_cols or docs.columns[:1]
    matched = F.array_compact(
        F.array(
            *[
                F.when(_false_safe(compile_query(q)), F.lit(qid))
                for qid, q in queries.items()
            ]
        )
    )
    return docs.select(*id_cols, F.explode(matched).alias("query_id"))


#: ops percolate_bulk understands; 'eq' carries one of sval/nval,
#: the four inequalities carry nval, 'exists' carries neither
#: (round 11 — satisfied by any non-NULL value of the field),
#: 'prefix' carries sval = the required string prefix, 'token'
#: carries sval = an analyzed token the doc's text field must
#: contain (round 12 — the match-query conjunct: log-alerting's
#: "message contains X" shape, matched through a token-exploded
#: melt).
_BULK_OPS = (
    "eq", "gt", "gte", "lt", "lte", "exists", "prefix", "token", "phrase"
)


#: the conjunct-row schema percolate_bulk matches on
_CONJUNCT_SCHEMA = (
    "query_id string, conjunct_id int, field string, op string, "
    "sval string, nval double, group_id int, min_match int, "
    "negated boolean"
)


def queries_to_conjuncts(
    spark: SparkSession, queries: dict, analyzer="whitespace"
) -> DataFrame:
    """Normalize stored queries into the CONJUNCT-ROW form
    ``percolate_bulk`` matches on: ``(query_id, conjunct_id, field,
    op, sval, nval, group_id, min_match, negated)``, one row per leaf.
    Supported query shapes — the alert-rule class: a ``term`` /
    ``terms`` (IN = one eq-row group per leaf) / ``range`` /
    ``exists`` / ``prefix`` / prefix-shaped ``wildcard`` ("lit*") /
    ``match`` leaf (round 12: an empty prefix normalizes to
    ``exists``; a match leaf becomes TOKEN conjuncts under
    ``analyzer`` — operator ``and`` one singleton group per token,
    ``or`` one any-token group), a ``match_phrase`` leaf (round 13,
    VERDICT r12 Next #6 — the "contains this exact phrase" alert
    class: ONE phrase conjunct whose sval is the space-joined analyzed
    token sequence; being a single row it composes in must, should
    AND must_not positions; ``slop`` other than 0 raises), or a
    ``bool`` whose ``must``/``filter`` lists hold such leaves, plus
    (round 11) a ``should`` list of such leaves with
    ``minimum_should_match`` — the should list becomes ONE group whose
    ``min_match`` is the threshold (a satisfied group counts once
    toward the query, however many of its leaves hit) — and a
    ``must_not`` list whose leaves become ``negated`` rows.  Every
    must/filter leaf is its own ``min_match=1`` singleton group.
    Per ES, a should list beside must/filter clauses defaults to
    ``minimum_should_match: 0`` — no filter-context constraint — and
    is then dropped entirely.  Anything else (regexp, a general
    wildcard, a must_not-only rule, …) raises with a pointer at
    :func:`percolate`, which evaluates the FULL DSL but whose plan is
    linear in the stored-query count.

    The result is a conjunct-row FRAME: ``percolate_bulk`` given it
    takes the frame-as-data path (distributed rule-side statistics,
    the millions-of-rules route) and must get the SAME ``analyzer``.
    Stored queries at hand go to ``percolate_bulk`` as the dict
    itself, which normalizes them with this code under its own
    ``analyzer`` and computes every rule-side statistic in Python.
    A millions-scale rule corpus should be persisted in conjunct-row
    form directly."""
    # JVM-local frame (one_slice_frame ships the rows as Arrow bytes
    # once, so no materialization launches a Python runner)
    return one_slice_frame(
        spark, _conjunct_rows(queries, analyzer), _CONJUNCT_SCHEMA
    )


def _conjunct_rows(queries: dict, analyzer: str) -> list[tuple]:
    """The rows of :func:`queries_to_conjuncts` as Python tuples in
    ``_CONJUNCT_SCHEMA`` order (nval floats coerced, so pyarrow takes
    them exactly)."""
    rows = []
    for qid, q in queries.items():
        # (leaf, group_id, min_match, in_should, negated)
        leaves: list[tuple[dict, int, int, bool, bool]] = []
        gid = 0
        if "bool" in q:
            b = q["bool"]
            bad = [k for k in b
                   if k not in ("must", "filter", "should", "must_not",
                                "minimum_should_match")]
            if bad:
                raise ValueError(
                    f"percolate_bulk query {qid!r}: bool.{bad[0]} is not "
                    "conjunct-expressible; use percolate() for the full DSL"
                )
            for key in ("must", "filter"):
                v = b.get(key, [])
                for leaf in (v if isinstance(v, list) else [v]):
                    leaves.append((leaf, gid, 1, False, False))
                    gid += 1
            mn = b.get("must_not", [])
            for leaf in (mn if isinstance(mn, list) else [mn]):
                leaves.append((leaf, gid, 1, False, True))
                gid += 1
            should = b.get("should", [])
            should = should if isinstance(should, list) else [should]
            if should:
                msm = int(b.get(
                    "minimum_should_match",
                    0 if ("must" in b or "filter" in b) else 1,
                ))
                if msm > len(should):
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: "
                        f"minimum_should_match {msm} > {len(should)} clauses"
                    )
                if msm > 0:
                    sg = gid
                    gid += 1
                    for leaf in should:
                        leaves.append((leaf, sg, msm, True, False))
        else:
            leaves.append((q, 0, 1, False, False))
            gid = 1  # keep gid past every assigned group (bound split)
        if not leaves:
            raise ValueError(f"percolate_bulk query {qid!r}: no conjuncts")
        if all(neg for *_, neg in leaves):
            # a pure-negation rule matches (docs − matching) —
            # O(docs × rules) output with no candidate structure; the
            # full-DSL path handles it at its linear-plan cost
            raise ValueError(
                f"percolate_bulk query {qid!r}: must_not-only rules "
                "have no positive conjunct to anchor matching; use "
                "percolate() for the full DSL"
            )
        cid = 0
        for leaf, g, mm, in_should, neg in leaves:
            (kind,) = leaf.keys()
            body = leaf[kind]
            if kind == "term":
                (field, spec), = body.items()
                v = spec["value"] if isinstance(spec, dict) else spec
                if isinstance(v, bool):
                    raise ValueError("boolean term values unsupported")
                if isinstance(v, (int, float)):
                    rows.append(
                        (qid, cid, field, "eq", None, float(v), g, mm, neg)
                    )
                else:
                    rows.append(
                        (qid, cid, field, "eq", str(v), None, g, mm, neg)
                    )
                cid += 1
            elif kind == "range":
                (field, spec), = body.items()
                if (in_should or neg) and len(spec) > 1:
                    # one should/must_not CLAUSE = one unit; splitting
                    # a two-bound range into two rows would let a
                    # half-match count toward the threshold (should)
                    # or kill on a half-match (must_not)
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: a multi-bound "
                        "range inside should/must_not is one clause, "
                        "not two — split the rule or use percolate()"
                    )
                # each bound of a must/filter range is its OWN
                # singleton group: both bounds must hold (AND), and
                # singleton groups are what percolate_bulk's interval
                # merge re-assembles into one two-sided band (a shared
                # group with min_match=1 would OR the bounds —
                # VERDICT r11 What's wrong #1 / ADVICE r11)
                first = True
                for op, v in spec.items():
                    if op not in ("gt", "gte", "lt", "lte"):
                        raise ValueError(f"range op {op!r}")
                    if first:
                        bg = g
                        first = False
                    else:
                        bg = gid
                        gid += 1
                    rows.append(
                        (qid, cid, field, op, None, float(v), bg, mm, neg)
                    )
                    cid += 1
            elif kind == "exists":
                rows.append(
                    (qid, cid, body["field"], "exists", None, None, g,
                     mm, neg)
                )
                cid += 1
            elif kind == "terms":
                # a terms leaf = IN over the values: every value is
                # an eq row SHARING the leaf's group with min_match 1
                # (any value hit satisfies the group — a scalar doc
                # field can match at most one value, so the leaf
                # contributes at most one hit to a should threshold)
                (field, vals), = body.items()
                if not isinstance(vals, (list, tuple)) or not vals:
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: terms needs a "
                        "non-empty value list"
                    )
                for v in vals:
                    if isinstance(v, bool):
                        raise ValueError("boolean term values unsupported")
                    if isinstance(v, (int, float)):
                        rows.append(
                            (qid, cid, field, "eq", None, float(v), g,
                             mm, neg)
                        )
                    else:
                        rows.append(
                            (qid, cid, field, "eq", str(v), None, g,
                             mm, neg)
                        )
                    cid += 1
            elif kind == "match":
                # the log-alerting shape ("message contains X"):
                # query text analyzed under the call-level analyzer
                # into TOKEN conjuncts. operator 'and': every token
                # its own singleton group (the range-bound pattern);
                # 'or': all tokens share the leaf's group — any one
                # satisfies it. A multi-token match inside should /
                # an and-match inside must_not has no flat-group
                # reading — raise with the full-DSL pointer.
                from .retrieval import _terms as _q_terms

                (field, spec), = body.items()
                if isinstance(spec, dict):
                    bad_k = set(spec) - {"query", "operator"}
                    if bad_k:
                        raise ValueError(
                            f"percolate_bulk query {qid!r}: match key "
                            f"{sorted(bad_k)[0]!r} (per-leaf analyzers "
                            "are not supported — pass analyzer= to "
                            "queries_to_conjuncts/percolate_bulk)"
                        )
                    qtext = spec["query"]
                    op_ = spec.get("operator", "or")
                else:
                    qtext, op_ = spec, "or"
                toks = _q_terms(str(qtext), analyzer)
                if not toks:
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: match query "
                        "analyzed to zero tokens"
                    )
                if len(toks) > 1 and (in_should or (neg and op_ == "and")):
                    # should counts CLAUSES and must_not kills on the
                    # WHOLE clause: a multi-token match in should (or
                    # an and-match in must_not) needs group nesting
                    # the flat conjunct frame doesn't have
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: a multi-token "
                        "match inside should/must_not is one clause; "
                        "use percolate() for the full DSL"
                    )
                first = True
                for t in toks:
                    if op_ == "and" and not neg:
                        if first:
                            tg = g
                            first = False
                        else:
                            tg = gid
                            gid += 1
                    else:
                        tg = g
                    rows.append(
                        (qid, cid, field, "token", t, None, tg, mm, neg)
                    )
                    cid += 1
            elif kind == "match_phrase":
                # the "contains this exact phrase" alert (round 13,
                # VERDICT r12 Next #6): ONE conjunct row — sval is
                # the space-joined analyzed token sequence, adjacency
                # checked channel-side on the doc's own token
                # sequence. A single row per leaf composes in must /
                # should / must_not without group nesting.
                from .retrieval import _terms as _q_terms

                (field, spec), = body.items()
                if isinstance(spec, dict):
                    if int(spec.get("slop", 0)) != 0:
                        raise ValueError(
                            f"percolate_bulk query {qid!r}: match_"
                            "phrase slop is not supported; use "
                            "percolate() for the full DSL"
                        )
                    bad_k = set(spec) - {"query", "slop"}
                    if bad_k:
                        raise ValueError(
                            f"percolate_bulk query {qid!r}: match_"
                            f"phrase key {sorted(bad_k)[0]!r}"
                        )
                    qtext = spec["query"]
                else:
                    qtext = spec
                toks = _q_terms(str(qtext), analyzer)
                if not toks:
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: match_phrase "
                        "analyzed to zero tokens"
                    )
                rows.append(
                    (qid, cid, field, "phrase", " ".join(toks), None,
                     g, mm, neg)
                )
                cid += 1
            elif kind == "geo_bounding_box":
                # a box rule is TWO numeric bands — lat ∈ [br.lat,
                # tl.lat], lon ∈ [tl.lon, br.lon] — each bound its own
                # singleton group, so both bands take the binned
                # two-sided range route over the struct's dotted
                # sub-fields (round 12). Dateline-wrapping boxes (an
                # OR of two lon bands) and should/must_not positions
                # have no flat-group reading — full-DSL path.
                if in_should or neg:
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: geo_bounding_"
                        "box inside should/must_not is one clause; "
                        "use percolate() for the full DSL"
                    )
                (field, spec), = [
                    (f_, s_) for f_, s_ in body.items()
                    if f_ != "validation_method"
                ]
                tl, br = spec["top_left"], spec["bottom_right"]
                if float(tl["lon"]) > float(br["lon"]):
                    raise ValueError(
                        f"percolate_bulk query {qid!r}: dateline-"
                        "wrapping boxes need an OR of two lon bands; "
                        "use percolate() for the full DSL"
                    )
                bounds = [
                    (f"{field}.lat", "gte", float(br["lat"])),
                    (f"{field}.lat", "lte", float(tl["lat"])),
                    (f"{field}.lon", "gte", float(tl["lon"])),
                    (f"{field}.lon", "lte", float(br["lon"])),
                ]
                first = True
                for bf, bop, bv in bounds:
                    if first:
                        bg = g
                        first = False
                    else:
                        bg = gid
                        gid += 1
                    rows.append(
                        (qid, cid, bf, bop, None, bv, bg, mm, neg)
                    )
                    cid += 1
            elif kind in ("prefix", "wildcard"):
                (field, spec), = body.items()
                p = spec["value"] if isinstance(spec, dict) else spec
                p = str(p)
                if kind == "wildcard":
                    # only the prefix-anchored shape ("lit*") has a
                    # conjunct reading; general patterns need the
                    # full-DSL path
                    if (
                        not p.endswith("*")
                        or "*" in p[:-1]
                        or "?" in p
                    ):
                        raise ValueError(
                            f"percolate_bulk query {qid!r}: only "
                            "prefix-shaped wildcards (lit*) are "
                            "conjunct-expressible; use percolate() "
                            "for the full DSL"
                        )
                    p = p[:-1]
                if p:
                    rows.append(
                        (qid, cid, field, "prefix", p, None, g, mm, neg)
                    )
                else:
                    # an empty prefix matches every non-NULL value —
                    # exactly the exists conjunct
                    rows.append(
                        (qid, cid, field, "exists", None, None, g, mm,
                         neg)
                    )
                cid += 1
            else:
                raise ValueError(
                    f"percolate_bulk query {qid!r}: {kind!r} is not "
                    "conjunct-expressible; use percolate() for the full DSL"
                )
    return rows


class _ConjStats:
    """Driver-side twin of percolate_bulk's validation/stats
    aggregation row — same attribute names, computed from the
    conjunct tuples of a stored-query dict."""

    def __init__(self, rows):
        # row: (query_id, conjunct_id, field, op, sval, nval,
        #       group_id, min_match, negated)
        pos = [r for r in rows if not r[8]]
        neg = [r for r in rows if r[8]]
        rng_ops = ("gt", "gte", "lt", "lte")
        self._n = len(pos)
        self._ng = len({(r[0], r[6]) for r in pos})
        self._mm = max((r[7] for r in pos), default=None)
        self._mm0 = min((r[7] for r in rows), default=None)
        self._bad = any(r[3] not in _BULK_OPS for r in rows)
        self._eq_s = any(r[3] == "eq" and r[4] is not None for r in pos)
        self._eq_n = any(r[3] == "eq" and r[5] is not None for r in pos)
        self._rng = any(r[3] in rng_ops for r in pos)
        self._ex = any(r[3] == "exists" for r in pos)
        self._pf = any(r[3] == "prefix" for r in pos)
        self._tok = any(r[3] == "token" for r in pos)
        self._neg_tok = any(r[3] == "token" for r in neg)
        self._ph = any(r[3] == "phrase" for r in pos)
        self._neg_ph = any(r[3] == "phrase" for r in neg)
        self._neg_s = any(r[3] == "eq" and r[4] is not None for r in neg)
        self._neg_n = any(r[5] is not None for r in neg)
        self._neg_ex = any(r[3] == "exists" for r in neg)
        self._neg_pf = any(r[3] == "prefix" for r in neg)
        self._fields = sorted({r[2] for r in rows})


def _distributed_conjunct_stats(conjuncts: DataFrame):
    """The frame-as-data stats pass: ONE bounded aggregation over the
    persisted conjuncts frame, attribute-compatible with
    :class:`_ConjStats` (the driver-side twin — their equivalence is
    pinned by test_percolate_driver_twins_match_distributed)."""
    is_eq = F.col("op") == "eq"
    pos = ~F.col("negated")
    return conjuncts.agg(
        F.count(F.when(pos, F.lit(1))).alias("_n"),
        F.count_distinct(
            F.when(pos, F.struct("query_id", "group_id"))
        ).alias("_ng"),
        F.max(F.when(pos, F.col("min_match"))).alias("_mm"),
        F.min("min_match").alias("_mm0"),
        F.max(~F.col("op").isin(*_BULK_OPS)).alias("_bad"),
        F.max(pos & is_eq & F.col("sval").isNotNull()).alias("_eq_s"),
        F.max(pos & is_eq & F.col("nval").isNotNull()).alias("_eq_n"),
        F.max(pos & F.col("op").isin("gt", "gte", "lt", "lte")).alias(
            "_rng"
        ),
        F.max(pos & (F.col("op") == "exists")).alias("_ex"),
        F.max(pos & (F.col("op") == "prefix")).alias("_pf"),
        F.max(pos & (F.col("op") == "token")).alias("_tok"),
        F.max(~pos & (F.col("op") == "token")).alias("_neg_tok"),
        F.max(pos & (F.col("op") == "phrase")).alias("_ph"),
        F.max(~pos & (F.col("op") == "phrase")).alias("_neg_ph"),
        F.max(
            ~pos & is_eq & F.col("sval").isNotNull()
        ).alias("_neg_s"),
        F.max(~pos & F.col("nval").isNotNull()).alias("_neg_n"),
        F.max(~pos & (F.col("op") == "exists")).alias("_neg_ex"),
        F.max(~pos & (F.col("op") == "prefix")).alias("_neg_pf"),
        F.collect_set("field").alias("_fields"),
    ).collect()[0]  # bounded: one row (fields ∩ schema ≤ width)


def _distributed_merged_intervals(mergeable: DataFrame) -> DataFrame:
    """The frame-as-data merged-interval aggregation (one interval per
    (query, field) from the singleton must-range conjuncts) —
    :func:`_driver_merged_intervals` is its driver-side twin."""
    is_gt = F.col("op").isin("gt", "gte")
    return mergeable.groupBy("query_id", "field").agg(
        F.count(F.lit(1)).cast("long").alias("_gw"),
        F.max(F.when(is_gt, F.col("nval"))).alias("lo"),
        F.min(F.when(~is_gt, F.col("nval"))).alias("hi"),
        F.max(
            F.when(F.col("op") == "gt", F.col("nval"))
        ).alias("_lo_s"),
        F.min(
            F.when(F.col("op") == "lt", F.col("nval"))
        ).alias("_hi_s"),
    ).withColumn(
        "lo_strict", F.col("_lo_s").isNotNull()
        & (F.col("_lo_s") == F.col("lo"))
    ).withColumn(
        "hi_strict", F.col("_hi_s").isNotNull()
        & (F.col("_hi_s") == F.col("hi"))
    ).drop("_lo_s", "_hi_s")


def _driver_merged_intervals(rows, grouped):
    """Driver-side twin of percolate_bulk's merged-interval
    aggregation: the exact rows the distributed ``merged`` groupBy
    produces — ``(query_id, field, _gw, lo, hi, lo_strict,
    hi_strict)`` — from the local conjunct tuples. max/min/count are
    order-independent over the same doubles, so the twin is bit-exact
    (pinned by test_percolate_driver_twins_match_distributed)."""
    rng_ops = ("gt", "gte", "lt", "lte")
    mergeable = [
        r for r in rows if not r[8] and r[3] in rng_ops and r[7] == 1
    ]
    if grouped:
        from collections import Counter

        gsz = Counter((r[0], r[6]) for r in rows if not r[8])
        mergeable = [r for r in mergeable if gsz[(r[0], r[6])] == 1]
    merged: dict = {}
    for r in mergeable:
        merged.setdefault((r[0], r[2]), []).append(r)
    out = []
    for (qid, field), grp in merged.items():
        los = [r[5] for r in grp if r[3] in ("gt", "gte")]
        his = [r[5] for r in grp if r[3] in ("lt", "lte")]
        lo = max(los) if los else None
        hi = min(his) if his else None
        gt_s = [r[5] for r in grp if r[3] == "gt"]
        lt_s = [r[5] for r in grp if r[3] == "lt"]
        out.append(
            (
                qid,
                field,
                len(grp),
                lo,
                hi,
                bool(gt_s) and max(gt_s) == lo,
                bool(lt_s) and min(lt_s) == hi,
            )
        )
    return out


def _interval_is_two_sided(lo, hi, lo_strict, hi_strict):
    """Python twin of the ``nonempty``/two-sided classification in
    percolate_bulk (an interval is a band when both bounds exist and
    it is satisfiable)."""
    if lo is None or hi is None:
        return False
    return lo < hi or (lo == hi and not lo_strict and not hi_strict)


def _driver_interval_widths(merged_rows):
    """Driver-side twin of the per-field bin-width aggregation over
    the TWO-SIDED merged intervals. Bit-exactness of the avg is NOT
    load-bearing (any positive width yields a candidate SUPERSET that
    the exact lo/hi filter then prunes — bins never appear in
    results), but max/min/greatest mirror the distributed tree."""
    by_field: dict = {}
    for r in merged_rows:
        if _interval_is_two_sided(r[3], r[4], r[5], r[6]):
            by_field.setdefault(r[1], []).append(r)
    out = []
    for fld, grp in sorted(by_field.items()):
        aw = sum(r[4] - r[3] for r in grp) / len(grp)
        mx = max(r[4] for r in grp)
        mn = min(r[3] for r in grp)
        out.append(
            (fld, max(aw, (mx - mn) / 4096.0, abs(mx) * 1e-9, 1e-9))
        )
    return out


def percolate_bulk(
    docs: DataFrame,
    rules: dict | DataFrame,
    id_cols: list[str] | None = None,
    analyzer="whitespace",
) -> DataFrame:
    """Percolate at MILLIONS-of-rules scale: stored queries live as
    DATA (conjunct rows — see :func:`queries_to_conjuncts`), so the
    compiled plan is O(1) in the rule count, closing the documented
    bound of :func:`percolate` (whose projection embeds one expression
    per stored query — VERDICT r09 What's wrong #3).

    ``rules`` picks the rule-side path by its type:

    - a ``dict`` of stored queries is normalized here, under the same
      ``analyzer`` as the docs, and every rule-side statistic
      (validation, channel emptiness, merged intervals, bin widths,
      group sizes, totals) is computed in plain Python from its rows:
      zero rule-side Spark jobs at construction;
    - a conjunct-row ``DataFrame`` (``queries_to_conjuncts``'s, or a
      persisted corpus of millions of rules) is data: the statistics
      are bounded distributed aggregations over it.

    Both paths build the same channels and give the same hits
    (pinned by test_percolate_driver_twins_match_distributed).

    Matching model: each query is a set of GROUPS; a must/filter leaf
    is its own ``min_match=1`` singleton group, a should list is one
    group satisfied when ≥ ``min_match`` of its leaves hit (round 11,
    VERDICT r10 Next #7).  A doc matches a query iff every group is
    satisfied (a missing/NULL field satisfies nothing — ES semantics).
    Frames without the group columns get the all-must default
    (``group_id = conjunct_id``, ``min_match = 1`` — conjunct_id must
    then be unique per query, as :func:`queries_to_conjuncts` emits).
    Returns ``(id_cols…, query_id)`` for every hit.

    Numeric ``eq`` conjuncts compare through exact DOUBLE equality
    (the melt casts the doc column to double, the rule carries a
    double): a decimal/float doc value that does not round-trip
    through double exactly will not match — the documented contract
    (ADVICE r10); compare via a range pair if that bites.

    Scale shape — this is the part that replaces N expressions:

    - the conjuncts frame is PERSISTED up front (rules are tiny next
      to the docs by contract) and materialized by the first bounded
      validation collect — every downstream channel then reads the
      cached rows instead of re-planning the rule frame's subtree
      (~6 consumers; in-query derivations re-ran a distinct-over-docs
      shuffle per channel before — VERDICT r10 What's wrong #1a).
    - docs MELT once into ``(doc, field, value)`` rows, string and
      numeric channels separately, only for fields some rule actually
      references (the referenced-field set is a bounded collect —
      it intersects the doc schema, so ≤ schema width rows).
    - EQUALITY conjuncts (the bulk of real alert rules) equi-join the
      melt on ``(field, value)`` — candidates ARE matches, no skew,
      no fan-out: shuffle volume is melt rows + conjunct rows.
    - RANGE conjuncts in must position are MERGED per (query, field)
      into one interval (binding bound wins, strictness tracked), and
      TWO-SIDED intervals — the alert-band shape — take the BINNED
      range join (operators/rangejoin.py pattern, per-field bin
      width): each doc value lands in ONE bin, each interval explodes
      into ≤ ~4k bins, and the (field, bin) equi-join meets docs only
      with candidate intervals — killing the doc × range-rules-per-
      field fan-out of the field-only broadcast (VERDICT r10 What's
      wrong #1b).  Genuinely ONE-SIDED intervals keep the field
      broadcast: they match O(data) docs by definition, so candidate
      pruning cannot help them.
    - TOKEN conjuncts (round 12 — normalized from ``match`` rules,
      the "message contains X" alert class) explode each referenced
      text field's DISTINCT analyzed tokens once (``analyzer`` must
      match the one the rules were normalized under) and equi-join
      on ``(field, token)`` — candidates ARE matches, exactly the
      equality channel's shape; shuffle volume is distinct doc
      tokens + token rules. The distinct guard matters: a repeated
      token must not double-count a leaf toward its group threshold.
    - PREFIX conjuncts (round 12) are the string range [p, p‖0xFF):
      they take the binned route's string analog — per-field
      FIXED-LENGTH prefix bins (bin length = the field's shortest
      rule prefix, one bounded rule-frame aggregation), doc values
      and rule prefixes each landing in ONE bin, candidates verified
      by startswith. A very short shortest-prefix coarsens the bins,
      but such a rule matches O(data/alphabet) docs by definition —
      candidates stay output-bound, the one-sided-interval argument.
      Empty prefixes normalize to `exists` conjuncts.
    - PHRASE conjuncts (round 13 — normalized from ``match_phrase``
      rules, the "contains this exact phrase" alert class) join the
      doc-token melt on the phrase's LONGEST token, then ONE
      contains() over the doc's sentinel-joined token sequence
      decides adjacency — position checks only on candidate pairs,
      the token channel's shuffle shape.
    - a query matches when its satisfied-group weight equals its
      group total: ONE groupBy ``(doc, query)`` over satisfied rows +
      a rule-sized join against per-query totals.  Only when should
      groups exist does a (doc, query, group) pre-aggregation resolve
      the thresholds first.
    """
    id_cols = id_cols or docs.columns[:1]
    # the one place the path is chosen: local_rows is None exactly on
    # the frame-as-data path
    if isinstance(rules, dict):
        local_rows = _conjunct_rows(rules, analyzer)
        conjuncts = one_slice_frame(
            docs.sparkSession, local_rows, _CONJUNCT_SCHEMA
        )
    else:
        local_rows, conjuncts = None, rules
    if "group_id" not in conjuncts.columns:
        conjuncts = conjuncts.withColumn("group_id", F.col("conjunct_id"))
    if "min_match" not in conjuncts.columns:
        conjuncts = conjuncts.withColumn("min_match", F.lit(1))
    if "negated" not in conjuncts.columns:
        conjuncts = conjuncts.withColumn("negated", F.lit(False))
    # materialize ONCE: every channel below (validation, eq_s, eq_n,
    # merged ranges, widths, totals) re-reads the cached blocks.
    # Stays persisted for the result's lifetime (LRU-evictable);
    # long-lived sessions can release eagerly via the handles the
    # result carries in `_percolate_persisted` (ADVICE r11).
    from pyspark import StorageLevel

    _persisted: list[DataFrame] = []

    def _with_handles(result: DataFrame) -> DataFrame:
        result._percolate_persisted = list(_persisted)
        return result

    conjuncts = conjuncts.persist(StorageLevel.MEMORY_AND_DISK)
    _persisted.append(conjuncts)
    # ONE bounded validation/stats pass (the materializing action):
    # bad-op check, group-stage detection, channel emptiness — every
    # later consumer reads the cache
    is_eq = F.col("op") == "eq"
    pos = ~F.col("negated")
    if local_rows is not None:
        st = _ConjStats(local_rows)
    else:
        st = _distributed_conjunct_stats(conjuncts)
    # the normalizer emits only _BULK_OPS rows with min_match >= 1 and
    # refuses must_not-only rules, so only a frame fails these checks
    if st._bad or (st._mm0 is not None and st._mm0 < 1):
        bad = conjuncts.filter(
            ~F.col("op").isin(*_BULK_OPS) | (F.col("min_match") < 1)
        ).limit(1).collect()
        raise ValueError(
            f"unsupported conjunct op/min_match {bad[0].op!r}/"
            f"{bad[0].min_match!r}"
        )
    negated = (st._neg_s or st._neg_n or st._neg_ex or st._neg_pf
               or st._neg_tok or st._neg_ph)
    if negated and local_rows is None:
        # a must_not-only rule has no positive conjunct to anchor the
        # count-to-total match — it would silently never fire
        orphan = (
            conjuncts.groupBy("query_id")
            .agg(F.max(pos).alias("_hp"))
            .filter(~F.col("_hp"))
            .limit(1)
            .collect()
        )
        if orphan:
            raise ValueError(
                f"percolate_bulk query {orphan[0].query_id!r} is "
                "must_not-only; use percolate() for the full DSL"
            )

    doc_types = {f.name: f.dataType.simpleString() for f in docs.schema.fields}

    def _path_type(path: str) -> str | None:
        # dotted rule fields resolve through struct columns (round 12
        # — the geo_bounding_box conjuncts reference "loc.lat"); the
        # melt's F.col(path) extracts the same element
        from pyspark.sql.types import StructType

        cur = docs.schema
        for part in path.split("."):
            if not isinstance(cur, StructType) or part not in cur.names:
                return None
            cur = cur[part].dataType
        return cur.simpleString()

    numeric_t = ("int", "bigint", "smallint", "tinyint", "float", "double",
                 "decimal")
    # should groups (or multi-leaf groups) need the per-group
    # threshold stage; the all-must common case skips it
    grouped = (st._mm or 0) > 1 or st._ng < st._n
    for f in st._fields:
        if f not in doc_types and "." in f:
            t = _path_type(f)
            if t is not None:
                doc_types[f] = t
    referenced = {f for f in st._fields if f in doc_types}
    # regime switch on the EXACT rule-row count just collected: a
    # small rule frame is explicitly broadcast everywhere it meets a
    # melt (no AQE round-trips, zero melt-side shuffles); a
    # millions-scale corpus keeps the shuffle equi-joins the design
    # is built around (AQE still adapts within that regime)
    _rb = F.broadcast if st._n <= 200_000 else (lambda d: d)
    s_fields = sorted(
        f for f in referenced if doc_types[f] == "string"
    )
    n_fields = sorted(
        f for f in referenced if doc_types[f].startswith(numeric_t)
    )
    unsupported = referenced - set(s_fields) - set(n_fields)
    if unsupported:
        # a rule on a non-scalar/non-melted type would silently never
        # match — fail loudly instead
        raise ValueError(
            "percolate_bulk matches string/numeric scalar fields only; "
            f"rules reference {sorted(unsupported)} of other types"
        )
    # project the doc side to what the melts read, and fan a
    # parallelism-starved scan out across the executor width: a
    # single-row-group parquet file is an unsplittable input (guide
    # §2.5's "repartition immediately after the read" case), so all
    # melt/join/partial-agg CPU of a channel otherwise runs in ONE
    # task (measured: 2 tasks carrying 1.1 s of es_percolate_bulk's
    # 2.7 s at sf0.1/local[32]). The exchange is keyless round-robin
    # (deterministic under sortBeforeRepartition) and both melts read
    # the SAME exchange via ReusedExchange, so the doc scan also runs
    # once instead of once per channel. At scale the scan already has
    # >= defaultParallelism splits and this is a no-op.
    keep_cols = list(
        dict.fromkeys(
            list(id_cols) + sorted({f.split(".")[0] for f in referenced})
        )
    )
    docs = docs.select(*keep_cols)
    sc = docs.sparkSession.sparkContext
    # the split probe is the planner's own file-split math over the
    # listing (one py4j call + a files-count>=width short-circuit for
    # non-local URIs) — NOT df.rdd, which runs a full physical
    # planning pass (~70 ms) on every percolate construction
    # (VERDICT r17 Next #8)
    if not _scan_splits_at_least(docs, sc.defaultParallelism):
        docs = docs.repartition(sc.defaultParallelism)

    def _melt(fields, cast_t, out_col):
        # ONE stack generator, not a union of per-field literal
        # projections: literal field keys get constant-folded and
        # degrade the downstream field joins to nested-loop shape
        args = []
        for f in fields:
            args += [F.lit(f), F.col(f).cast(cast_t)]
        return docs.select(
            *id_cols,
            F.stack(F.lit(len(fields)), *args).alias("field", out_col),
        ).filter(F.col(out_col).isNotNull())

    # leaf-satisfaction channels: (ids…, query_id, group_id) rows —
    # one per satisfied LEAF (group thresholds resolve below)
    leaf_sat = []
    if s_fields and st._eq_s:
        eq_s = conjuncts.filter(
            pos & is_eq & F.col("sval").isNotNull()
        ).select("query_id", "group_id", "field", "sval")
        melt_s = _melt(s_fields, "string", "sval")
        leaf_sat.append(
            melt_s.join(_rb(eq_s), ["field", "sval"]).select(
                *id_cols, "query_id", "group_id"
            )
        )
    rng = conjuncts.filter(
        pos & F.col("op").isin("gt", "gte", "lt", "lte")
    ).select("query_id", "group_id", "field", "op", "nval", "min_match")
    if st._ex:
        # exists conjuncts: any non-NULL melt row for the field
        # satisfies the leaf — a field is in exactly ONE melt channel
        ex = conjuncts.filter(
            pos & (F.col("op") == "exists")
        ).select("query_id", "group_id", "field")
        for flds, cast_t in ((s_fields, "string"), (n_fields, "double")):
            if flds:
                leaf_sat.append(
                    _melt(flds, cast_t, "_v")
                    .join(_rb(ex), "field")
                    .select(*id_cols, "query_id", "group_id")
                )
    if s_fields and st._pf:
        # prefix conjuncts (round 12, VERDICT r11 Next #7): a prefix
        # rule is the string range [p, p‖0xFF) — matched through
        # per-field FIXED-LENGTH prefix bins, the binned range join's
        # string analog: bin length = the field's SHORTEST rule
        # prefix (one bounded rule-frame aggregation, broadcast),
        # doc value and rule prefix each land in exactly ONE bin
        # (substring to that length), and the (field, bin) equi-join
        # meets docs only with rules sharing their leading chars —
        # the startswith filter then decides. A 1-char shortest
        # prefix degrades the bins to a 1-char partition, but such a
        # rule matches O(data/alphabet) docs by definition — the
        # candidate set is output-bound, like the one-sided numeric
        # intervals. Empty prefixes were normalized to `exists`.
        pf = conjuncts.filter(
            pos & (F.col("op") == "prefix")
        ).select("query_id", "group_id", "field", "sval")
        if local_rows is not None:
            # rule-side min-prefix-length fold: plain Python over the
            # local tuples instead of a per-construction Spark job
            pl: dict = {}
            for r in local_rows:
                if not r[8] and r[3] == "prefix":
                    pl[r[2]] = min(pl.get(r[2], 1 << 30), len(r[4]))
            plen = one_slice_frame(
                docs.sparkSession,
                sorted(pl.items()),
                "field string, _pl int",
            )
        else:
            plen = pf.groupBy("field").agg(
                F.min(F.length("sval")).alias("_pl")
            )
        pfb = pf.join(F.broadcast(plen), "field").withColumn(
            "_pbin", F.col("sval").substr(F.lit(1), F.col("_pl"))
        )
        pts = _melt(s_fields, "string", "_pv").join(
            F.broadcast(plen), "field"
        ).withColumn(
            "_pbin", F.col("_pv").substr(F.lit(1), F.col("_pl"))
        )
        leaf_sat.append(
            pts.join(_rb(pfb), ["field", "_pbin"])
            .filter(F.col("_pv").startswith(F.col("sval")))
            .select(*id_cols, "query_id", "group_id")
        )
    if n_fields and (st._tok or st._neg_tok or st._ph or st._neg_ph):
        # token/phrase conjuncts match TEXT fields only — such a rule
        # on a numeric field would silently never match
        if local_rows is not None:
            bad_tok = [
                r[2] for r in local_rows
                if r[3] in ("token", "phrase") and r[2] in n_fields
            ]
        else:
            bad_tok = [
                r.field for r in conjuncts.filter(
                    F.col("op").isin("token", "phrase")
                    & F.col("field").isin(*n_fields)
                ).limit(1).collect()
            ]
        if bad_tok:
            raise ValueError(
                f"token (match) / phrase rules need a string field; "
                f"{bad_tok[0]!r} is numeric"
            )
    if s_fields and st._tok:
        from .retrieval import _tokens_col as _tc

        tok = conjuncts.filter(
            pos & (F.col("op") == "token")
        ).select("query_id", "group_id", "field", "sval")
        # melt text fields once, explode their DISTINCT tokens (a
        # repeated token must count a leaf once), equi-join on
        # (field, token) — the equality channel's shape
        toks_rows = _melt(s_fields, "string", "_txt").select(
            *id_cols,
            "field",
            F.explode(
                F.array_distinct(_tc(F.col("_txt"), analyzer))
            ).alias("sval"),
        )
        leaf_sat.append(
            toks_rows.join(_rb(tok), ["field", "sval"]).select(
                *id_cols, "query_id", "group_id"
            )
        )
    if s_fields and st._ph:
        # PHRASE conjuncts (round 13, VERDICT r12 Next #6): the
        # candidate key is the phrase's LONGEST token (a selectivity
        # heuristic needing no doc stats), equi-joined against the
        # doc's distinct tokens — the token channel's shape — and
        # adjacency then decided by ONE contains() over the doc's
        # sentinel-joined token sequence (' t1 t2 … ' ⊇ ' phrase '
        # ⟺ the tokens run consecutively). Position checks cost
        # only candidate pairs; the plan stays O(1) in rules.
        from .retrieval import _tokens_col as _tc

        ph = conjuncts.filter(
            pos & (F.col("op") == "phrase")
        ).select("query_id", "group_id", "field", "sval").withColumn(
            "_ctok",
            F.aggregate(
                F.split(F.col("sval"), " "),
                F.lit(""),
                lambda acc, x: F.when(
                    F.length(x) > F.length(acc), x
                ).otherwise(acc),
            ),
        )
        # The token array is BOUND ONCE PER MELTED ROW (VERDICT r13
        # What's wrong: the inline form put the tokenizer subtree in
        # the Filter, the Project AND the Generate — Catalyst does
        # not CSE across a Generate). The span_near precedent
        # (retrieval.py:1278-1286) applies: route the array through
        # singleton transform lambdas, whose struct fields are bound
        # values a CollapseProject cannot re-inline, and explode
        # (token, seq) PAIRS so the ONE Generate input is the only
        # tokenizer site in the whole channel. The outer lambda binds
        # the raw token array; the inner binds the sentinel-joined
        # sequence and the distinct set (each derived from the bound
        # array exactly once); the per-token structs then reference
        # only bound values.
        _pairs = F.element_at(
            F.transform(
                F.array(F.struct(
                    _tc(F.col("_txt"), analyzer).alias("t")
                )),
                lambda s: F.element_at(
                    F.transform(
                        F.array(F.struct(
                            F.concat(
                                F.lit(" "),
                                F.array_join(s["t"], " "),
                                F.lit(" "),
                            ).alias("q"),
                            F.array_distinct(s["t"]).alias("d"),
                        )),
                        lambda b: F.transform(
                            b["d"],
                            lambda tok: F.struct(
                                tok.alias("_ctok"),
                                b["q"].alias("_seq"),
                            ),
                        ),
                    ),
                    1,
                ),
            ),
            1,
        )
        ph_rows = _melt(s_fields, "string", "_txt").select(
            *id_cols, "field", F.explode(_pairs).alias("_e")
        ).select(
            *id_cols,
            "field",
            F.col("_e._ctok").alias("_ctok"),
            F.col("_e._seq").alias("_seq"),
        )
        leaf_sat.append(
            ph_rows.join(_rb(ph), ["field", "_ctok"])
            .filter(
                F.col("_seq").contains(
                    F.concat(F.lit(" "), F.col("sval"), F.lit(" "))
                )
            )
            .select(*id_cols, "query_id", "group_id")
        )
    # group-satisfaction channel from merged must-range intervals:
    # (ids…, query_id, _gw) rows, _gw = how many singleton groups the
    # merged interval certifies at once
    group_sat = []
    if n_fields and (st._eq_n or st._rng):
        melt_n = _melt(n_fields, "double", "nval").withColumnRenamed(
            "nval", "v"
        )
    if n_fields and st._eq_n:
        eq_n = conjuncts.filter(
            pos & is_eq & F.col("nval").isNotNull()
        ).select("query_id", "group_id", "field", "nval")
        leaf_sat.append(
            melt_n.withColumnRenamed("v", "nval")
            .join(_rb(eq_n), ["field", "nval"])
            .select(*id_cols, "query_id", "group_id")
        )
    if n_fields and st._rng:
        mergeable = rng.filter(F.col("min_match") == 1)
        if grouped:
            # inside a multi-leaf group, range leaves are ALTERNATIVES
            # — only singleton (must) groups merge as conjunctions
            if local_rows is not None:
                from collections import Counter

                gcnt = Counter(
                    (r[0], r[6]) for r in local_rows if not r[8]
                )
                gsz = one_slice_frame(
                    docs.sparkSession,
                    [
                        (q, g, c)
                        for (q, g), c in sorted(gcnt.items())
                    ],
                    "query_id string, group_id int, _gsz long",
                )
            else:
                gsz = conjuncts.filter(pos).groupBy(
                    "query_id", "group_id"
                ).agg(F.count(F.lit(1)).alias("_gsz"))
            mergeable = mergeable.join(
                _rb(gsz), ["query_id", "group_id"]
            ).filter(F.col("_gsz") == 1)
            loose = rng.join(_rb(gsz), ["query_id", "group_id"]).filter(
                (F.col("min_match") > 1) | (F.col("_gsz") > 1)
            )
        _MERGED_SCHEMA = (
            "query_id string, field string, _gw long, lo double, "
            "hi double, lo_strict boolean, hi_strict boolean"
        )
        if local_rows is not None:
            # decide-on-small-rows: the merge aggregation, its persist
            # and every bounded stats job over it (interval classes,
            # widths) run in plain Python on the local conjunct tuples
            # — zero rule-side Spark jobs per percolate construction
            # (the frame-as-data path below keeps the distributed form)
            merged_rows = _driver_merged_intervals(local_rows, grouped)
            merged = one_slice_frame(
                docs.sparkSession, merged_rows, _MERGED_SCHEMA
            )
        else:
            # rule-sized like conjuncts; materialized by the interval-
            # class collect below so widths/ivals/one_sided read it cached
            # instead of re-running the merge aggregation each
            merged = _distributed_merged_intervals(mergeable).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            _persisted.append(merged)
        lo, hi = F.col("lo"), F.col("hi")
        v = F.col("v")
        lo_ok = lo.isNull() | F.when(F.col("lo_strict"), v > lo).otherwise(
            v >= lo
        )
        hi_ok = hi.isNull() | F.when(F.col("hi_strict"), v < hi).otherwise(
            v <= hi
        )
        # empty merged intervals (lo > hi, or touching with a strict
        # end) are unsatisfiable: drop them — their _gw then never
        # reaches the total, so the query can never match (correct)
        nonempty = (lo < hi) | (
            (lo == hi) & ~F.col("lo_strict") & ~F.col("hi_strict")
        )
        two_sided = merged.filter(
            lo.isNotNull() & hi.isNotNull() & nonempty
        )
        one_sided = merged.filter(lo.isNull() | hi.isNull())
        # one more bounded stats pass (rule-sized, reads the cache;
        # a Python fold over the merged rows on the dict path):
        # an empty interval class would otherwise still cost its
        # channel's stages on every run
        if local_rows is not None:
            any_two = any(
                _interval_is_two_sided(*r[3:]) for r in merged_rows
            )
            any_one = any(r[3] is None or r[4] is None for r in merged_rows)
        else:
            any_two, any_one = merged.agg(
                F.max(lo.isNotNull() & hi.isNotNull() & nonempty),
                F.max(lo.isNull() | hi.isNull()),
            ).collect()[0]
        if any_two:
            # binned equi-join for the two-sided (band) intervals —
            # the operators/rangejoin.py pattern with a per-field bin
            # width: ~the mean interval width, floored at span/4096
            # (explosion cap) and a magnitude-relative epsilon (keeps
            # floor(v/w) inside long range for epoch-scale axes)
            if local_rows is not None:
                # the bin-width pass was the surviving rule-side
                # 1-task job (VERDICT r17 Next #5): with local rows it
                # is a Python fold over the merged tuples; width
                # differences cannot change results (bins are a
                # candidate superset, the exact lo/hi filter decides)
                widths = one_slice_frame(
                    docs.sparkSession,
                    _driver_interval_widths(merged_rows),
                    "field string, _w double",
                )
            else:
                widths = two_sided.groupBy("field").agg(
                    F.avg(hi - lo).alias("_aw"),
                    F.max(hi).alias("_mx"),
                    F.min(lo).alias("_mn"),
                ).select(
                    "field",
                    F.greatest(
                        F.col("_aw"),
                        (F.col("_mx") - F.col("_mn")) / F.lit(4096.0),
                        F.abs(F.col("_mx")) * F.lit(1e-9),
                        F.lit(1e-9),
                    ).alias("_w"),
                )
            ivals = two_sided.join(F.broadcast(widths), "field").withColumn(
                "_bin",
                F.explode(
                    F.sequence(
                        F.floor(lo / F.col("_w")), F.floor(hi / F.col("_w"))
                    )
                ),
            ).drop("_w")
            pts = melt_n.join(F.broadcast(widths), "field").withColumn(
                "_bin", F.floor(v / F.col("_w"))
            )
            group_sat.append(
                pts.join(_rb(ivals), ["field", "_bin"])
                .filter(lo_ok & hi_ok)
                .select(*id_cols, "query_id", "_gw")
            )
        if any_one:
            # one-sided intervals: inherently match O(data) docs, so
            # the field-keyed broadcast IS the right shape (no
            # candidate set smaller than the output exists)
            group_sat.append(
                melt_n.join(_rb(one_sided), "field")
                .filter(lo_ok & hi_ok)
                .select(*id_cols, "query_id", "_gw")
            )
        if grouped:
            # unmerged range leaves (should alternatives): per-leaf
            # broadcast, threshold resolved in the group stage
            bound = F.col("nval")
            ok = (
                F.when(F.col("op") == "gt", v > bound)
                .when(F.col("op") == "gte", v >= bound)
                .when(F.col("op") == "lt", v < bound)
                .otherwise(v <= bound)
            )
            leaf_sat.append(
                melt_n.join(_rb(loose), "field")
                .filter(ok)
                .select(*id_cols, "query_id", "group_id")
            )
    if not leaf_sat and not group_sat:
        # no referenced field exists on the docs: nothing can match
        return _with_handles(
            docs.select(*id_cols).limit(0).withColumn(
                "query_id", F.lit(None).cast("string")
            )
        )

    def _union(frames):
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    if leaf_sat:
        leaves = _union(leaf_sat)
        if grouped:
            if local_rows is not None:
                gmeta = one_slice_frame(
                    docs.sparkSession,
                    sorted(
                        {
                            (r[0], r[6], r[7])
                            for r in local_rows
                            if not r[8]
                        }
                    ),
                    "query_id string, group_id int, min_match int",
                )
            else:
                gmeta = conjuncts.filter(pos).select(
                    "query_id", "group_id", "min_match"
                ).distinct()
            resolved = (
                leaves.groupBy(*id_cols, "query_id", "group_id")
                .agg(F.count(F.lit(1)).alias("_hits"))
                .join(_rb(gmeta), ["query_id", "group_id"])
                .filter(F.col("_hits") >= F.col("min_match"))
                .select(*id_cols, "query_id", F.lit(1).cast("long").alias("_gw"))
            )
        else:
            # all-singleton fast path: a leaf hit IS a group hit
            resolved = leaves.select(
                *id_cols, "query_id", F.lit(1).cast("long").alias("_gw")
            )
        group_sat.append(resolved)
    satisfied = _union(group_sat)

    if local_rows is not None:
        _tot: dict = {}
        for r in local_rows:
            if not r[8]:
                _tot.setdefault(r[0], set()).add(r[6])
        totals = one_slice_frame(
            docs.sparkSession,
            [(q, len(g)) for q, g in sorted(_tot.items())],
            "query_id string, _n_req long",
        )
    else:
        totals = conjuncts.filter(pos).groupBy("query_id").agg(
            F.count_distinct("group_id").alias("_n_req")
        )
    matched = (
        satisfied.groupBy(*id_cols, "query_id")
        .agg(F.sum("_gw").alias("_n_sat"))
        .join(_rb(totals), "query_id")
        .filter(F.col("_n_sat") == F.col("_n_req"))
        .select(*id_cols, "query_id")
    )
    if not negated:
        return _with_handles(matched)
    # must_not conjuncts (round 11): each negated leaf KILLS any
    # (doc, query) pair it matches — computed with the same melt
    # channels (per-leaf; no merging or counting, any hit kills) and
    # removed by ONE left_anti join. A doc whose field is missing
    # never matches the leaf and therefore survives, exactly ES's
    # must_not NULL semantics.
    kill = []
    if s_fields and st._neg_s:
        neg_s = conjuncts.filter(
            ~pos & is_eq & F.col("sval").isNotNull()
        ).select("query_id", "field", "sval")
        kill.append(
            _melt(s_fields, "string", "sval")
            .join(_rb(neg_s), ["field", "sval"])
            .select(*id_cols, "query_id")
        )
    if s_fields and st._neg_pf:
        # negated prefix: any startswith hit kills the (doc, query)
        # pair — per-leaf field broadcast like the other kill
        # channels (no counting, no merging)
        neg_pf = conjuncts.filter(
            ~pos & (F.col("op") == "prefix")
        ).select("query_id", "field", "sval")
        kill.append(
            _melt(s_fields, "string", "_pv")
            .join(_rb(neg_pf), "field")
            .filter(F.col("_pv").startswith(F.col("sval")))
            .select(*id_cols, "query_id")
        )
    if s_fields and st._neg_tok:
        # negated token ("must_not contain X"): any token hit kills
        from .retrieval import _tokens_col as _tc

        neg_tok = conjuncts.filter(
            ~pos & (F.col("op") == "token")
        ).select("query_id", "field", "sval")
        kill.append(
            _melt(s_fields, "string", "_txt")
            .select(
                *id_cols,
                "field",
                F.explode(
                    F.array_distinct(_tc(F.col("_txt"), analyzer))
                ).alias("sval"),
            )
            .join(_rb(neg_tok), ["field", "sval"])
            .select(*id_cols, "query_id")
        )
    if s_fields and st._neg_ph:
        # negated phrase ("must_not contain this phrase"): any
        # adjacency hit kills — per-leaf field broadcast like the
        # other kill channels (no counting), contains() deciding
        from .retrieval import _tokens_col as _tc

        neg_ph = conjuncts.filter(
            ~pos & (F.col("op") == "phrase")
        ).select("query_id", "field", "sval")
        kill.append(
            _melt(s_fields, "string", "_txt")
            .select(
                *id_cols,
                "field",
                F.concat(
                    F.lit(" "),
                    F.array_join(_tc(F.col("_txt"), analyzer), " "),
                    F.lit(" "),
                ).alias("_seq"),
            )
            .join(_rb(neg_ph), "field")
            .filter(
                F.col("_seq").contains(
                    F.concat(F.lit(" "), F.col("sval"), F.lit(" "))
                )
            )
            .select(*id_cols, "query_id")
        )
    if n_fields and st._neg_n:
        neg_n = conjuncts.filter(~pos & F.col("nval").isNotNull()).select(
            "query_id", "field", "op", "nval"
        )
        nm = _melt(n_fields, "double", "nval").withColumnRenamed(
            "nval", "v"
        )
        nv, nb = F.col("v"), F.col("nval")
        nok = (
            F.when(F.col("op") == "eq", nv == nb)
            .when(F.col("op") == "gt", nv > nb)
            .when(F.col("op") == "gte", nv >= nb)
            .when(F.col("op") == "lt", nv < nb)
            .otherwise(nv <= nb)
        )
        kill.append(
            nm.join(_rb(neg_n), "field")
            .filter(nok)
            .select(*id_cols, "query_id")
        )
    if st._neg_ex:
        nex = conjuncts.filter(
            ~pos & (F.col("op") == "exists")
        ).select("query_id", "field")
        for flds, cast_t in ((s_fields, "string"), (n_fields, "double")):
            if flds:
                kill.append(
                    _melt(flds, cast_t, "_v")
                    .join(_rb(nex), "field")
                    .select(*id_cols, "query_id")
                )
    if not kill:
        return _with_handles(matched)
    return _with_handles(
        matched.join(_union(kill), [*id_cols, "query_id"], "left_anti")
    )


def q_es_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stored alert queries percolated over the events stream:
    a range, a NULL-exact bool, and a multi_match."""
    ev = load(spark, sf_dir, "events")
    return percolate(
        ev,
        {
            "big_value": {"range": {"value": {"gte": 250}}},
            "quiet_errors": {
                "bool": {
                    "filter": [{"term": {"event_type": "error"}}],
                    "must_not": [{"range": {"value": {"gte": 50}}}],
                }
            },
            "k8_props": {
                "multi_match": {"query": "error 87}", "fields":
                                ["event_type", "props"]}
            },
        },
        id_cols=["event_id"],
    ).orderBy("event_id", "query_id")


def q_es_terms_missing_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram ``offset`` (+2h on a 6h grid) nested with a
    ``terms`` agg using ``missing`` (round 10): the frame synthesizes
    a nullable segment column (the testdata has no NULLs), and docs
    without it land in the '(none)' bucket instead of being dropped —
    both knobs mirrored literally in the oracle SQL."""
    ev = load(spark, sf_dir, "events").withColumn(
        "seg", F.when(F.col("value") >= 100, F.col("event_type"))
    )
    return compile_aggs(
        ev,
        {
            "six_hourly": {
                "date_histogram": {
                    "field": "ts",
                    "fixed_interval": "6h",
                    "offset": "+2h",
                },
                "aggs": {
                    "by_seg": {
                        "terms": {
                            "field": "seg",
                            "missing": "(none)",
                            "size": 1000,
                        },
                        "aggs": {
                            "sum_value": {"sum": {"field": "value"}}
                        },
                    }
                },
            }
        },
    )


def q_es_normalize_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``normalize`` z-score + softmax (round 13, VERDICT r12 Next
    #7): hourly error-sum buckets, z = (x − mean)/σ over the level
    (the extended_stats moment discipline), and softmax over the
    z-SCORES (buckets_path chaining onto the sibling pipeline — raw
    sums would be max-dominated; z values spread the exponentials),
    the exp outputs 12dp-rounded before the exact-decimal sum."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "error"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "z": {
                            "normalize": {
                                "buckets_path": "sum_value",
                                "method": "z-score",
                            }
                        },
                        "sm": {
                            "normalize": {
                                "buckets_path": "z",
                                "method": "softmax",
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_percolate_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``match_phrase`` percolate rules (round 13, VERDICT r12 Next
    #6) — the "contains this exact phrase" alert class, passed as
    the stored-query dict (percolate_bulk normalizes it and computes
    every rule-side statistic in Python): a bare phrase rule, a
    phrase+range must
    pair, a phrase with a must_not phrase (load-bearing: the corpus
    has docs matching both), and a should-of-phrases — adjacency
    decided on longest-token candidates only."""
    docs = load(spark, sf_dir, "documents")
    rules = {
        "p_table_scan": {"match_phrase": {"text": "table scan"}},
        "p_hash_join": {"bool": {"must": [
            {"match_phrase": {"text": {"query": "hash join"}}},
            {"range": {"n_chars": {"gte": 200}}},
        ]}},
        "p_sort_merge": {"bool": {
            "must": [{"match_phrase": {"text": "sort merge"}}],
            "must_not": [{"match_phrase": {"text": "window scan"}}],
        }},
        "p_batch_or_vector": {"bool": {"should": [
            {"match_phrase": {"text": "batch stream"}},
            {"match_phrase": {"text": "vector scan"}},
        ], "minimum_should_match": 1}},
    }
    return percolate_bulk(docs, rules, ["doc_id"]).orderBy(
        "doc_id", "query_id"
    )


def q_es_percolate_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk percolate (oracle-checked): 50 alert rules — one per
    (event_type × 50-wide value band) — expressed as ES query DSL
    dicts and passed to percolate_bulk as the dict (so the oracle
    exercises the NORMALIZER, including the two-bound
    must-range band shape the r11 verdict found mis-grouped — each
    bound must land in its own singleton group), then matched against
    every event. Each rule is the conjunction ``event_type = t AND
    value >= lo AND value < lo+50``; every event matches exactly its
    own band's rule, so the output is one (event_id, query_id) row
    per event — fully hash-checkable. The distinct-type collect is
    bounded (event_type cardinality ~5); a millions-scale rule corpus
    skips the normalizer and persists conjunct rows directly —
    pytest covers that frame-as-data path
    (test_percolate_driver_twins_match_distributed)."""
    ev = load(spark, sf_dir, "events")
    types = [
        r.event_type
        for r in ev.select("event_type")
        .where(F.col("event_type").isNotNull())
        .distinct()
        .collect()
    ]  # bounded: distinct event types
    rules = {}
    for t in sorted(types):
        for band in range(10):
            lo = float(band * 50)
            rules[f"{t}_{band * 50}"] = {
                "bool": {
                    "must": [
                        {"term": {"event_type": t}},
                        # the two-bound band range — ONE leaf, two
                        # bounds; the normalizer must split it into
                        # two singleton groups (VERDICT r11 #1)
                        {"range": {"value": {"gte": lo, "lt": lo + 50.0}}},
                    ]
                }
            }
    return percolate_bulk(ev, rules, id_cols=["event_id"]).orderBy(
        "event_id", "query_id"
    )


def q_es_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES 8 ``knn`` search section in the request dialect,
    answering the SAME oracle as sim_topk_bruteforce: query vector as
    a literal (the request shape), self excluded via knn.filter, the
    runtime-field hook exercised by projecting the rounded score.
    The 1-row collect fetching the query vector is the bounded-
    collect family (one embedding row at query-construction time)."""
    from .tables import load as _load

    e = _load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter("vec_id = 0").head()["embedding"]]
    hits = search(
        e,
        {
            "knn": {
                "field": "embedding",
                "query_vector": qv,
                "k": 10,
                "filter": {"bool": {"must_not": [{"term": {"vec_id": 0}}]}},
                "score_round": 6,
                "tiebreak": ["vec_id"],
            },
            "size": 10,
        },
    )
    return hits.select(
        "vec_id", "label", F.col("_score").alias("cos_sim")
    ).orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())


def q_es_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing: one top hit per user (by value), then the
    global top-20 of those representatives — ES's collapse feature,
    compiled as a per-group row_number before the global top-k."""
    ev = load(spark, sf_dir, "events")
    return search(
        ev,
        {
            "query": {"range": {"ts": {"gte": "2024-01-05 00:00:00"}}},
            "collapse": {"field": "user_id"},
            "sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}],
            "size": 20,
            "_source": ["event_id", "user_id", "event_type", "value"],
        },
    )


def q_es_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep pagination with a mixed-direction search_after cursor
    (type ASC, value DESC, id ASC): the cursor predicate filters
    BEFORE the top-k, so page N never re-heaps pages 1..N-1."""
    ev = load(spark, sf_dir, "events")
    return search(
        ev,
        {
            "sort": [
                {"event_type": {"order": "asc"}},
                {"value": {"order": "desc"}},
                {"event_id": {"order": "asc"}},
            ],
            "search_after": ["click", 150.0, 0],
            "size": 25,
            "_source": ["event_id", "event_type", "value"],
        },
    )


def q_es_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline aggregations over the daily bucket sequence:
    cumulative_sum + derivative + bucket_script on the
    date_histogram level, and a sibling max_bucket summarizing the
    top-2 per-day ``terms`` children — all computed on the compact
    post-aggregate bucket frame (windows + one broadcast join), never
    re-touching the raw scan."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_day": {
                    "date_histogram": {"field": "ts", "calendar_interval": "day"},
                    "aggs": {
                        "daily_value": {"sum": {"field": "value"}},
                        "cum_value": {
                            "cumulative_sum": {"buckets_path": "daily_value"}
                        },
                        "delta": {"derivative": {"buckets_path": "daily_value"}},
                        "per_doc": {
                            "bucket_script": {
                                "buckets_path": {"v": "daily_value",
                                                 "c": "_count"},
                                "script": "params.v / params.c",
                            }
                        },
                        "by_type": {
                            "terms": {"field": "event_type", "size": 2},
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        },
                        "best_type_avg": {
                            "max_bucket": {"buckets_path": "by_type>avg_value"}
                        },
                    },
                }
            },
        },
    )


def q_es_composite_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pagination: page 2 (after-key cursor) of the
    (priority, status) bucket space with an avg metric."""
    o = load(spark, sf_dir, "orders")
    return composite_agg(
        o,
        sources=[
            {"prio": {"terms": {"field": "o_orderpriority"}}},
            {"status": {"terms": {"field": "o_orderstatus"}}},
        ],
        size=5,
        after={"prio": "2-HIGH", "status": "F"},
        metrics={"avg_price": {"avg": {"field": "o_totalprice"}}},
    )


def q_es_composite_missing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composite ``missing_bucket`` (round 14): a terms source whose
    low-value docs carry NULL type keys — ``missing_bucket: true``
    keeps them as NULL-keyed buckets sorted FIRST, and the page-2
    cursor itself carries ``null`` for that source (the NULL-aware
    lexicographic after predicate is load-bearing: page 2 starts
    inside the null-key range)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "t",
        F.when(F.col("value") >= 15, F.col("event_type")),
    )
    return composite_agg(
        ev,
        sources=[
            {"ty": {"terms": {"field": "t", "missing_bucket": True}}},
            {"band": {"histogram": {"field": "value",
                                    "interval": 100}}},
        ],
        size=6,
        after={"ty": None, "band": 0.0},
        metrics={"avg_value": {"avg": {"field": "value"}}},
    )


def q_es_metric_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted_avg + top_metrics per event_type (round 10):
    value-weighted mean of user_id (exact decimal sums) and the value
    at each bucket's LATEST event (top_metrics sorted by ts desc —
    the 'current reading per group' request), ties pinned by the
    metric struct so both engines agree."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 100},
                    "aggs": {
                        "w_user": {
                            "weighted_avg": {
                                "value": {"field": "user_id"},
                                "weight": {"field": "value"},
                            }
                        },
                        "latest_value": {
                            "top_metrics": {
                                "metrics": {"field": "value"},
                                "sort": {"ts": "desc"},
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extended_stats per event_type (round 10): population variance,
    std and ±2σ bounds from exact decimal moments through one fixed
    double tree — the same exact-moments discipline as the anomaly
    detector (engine stddev built-ins disagree in float bits; exact
    sufficient statistics don't)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 100},
                    "aggs": {
                        "v": {"extended_stats": {"field": "value"}}
                    },
                }
            },
        },
    )


def q_es_filter_missing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-bucket aggs + date_range in one chain (round 10):
    ``missing`` (docs lacking the synthesized nullable segment) →
    ``date_range`` (three epoch-millis windows over January) with an
    avg metric — both single-bucket keys and the window keys appear
    in the flat frame exactly as ES's response tree nests them."""
    ev = load(spark, sf_dir, "events").withColumn(
        "seg", F.when(F.col("value") >= 100, F.col("event_type"))
    )
    jan11 = 1704931200000  # 2024-01-11T00:00Z
    jan21 = 1705795200000  # 2024-01-21T00:00Z
    return search_aggs(
        ev,
        {
            "aggs": {
                "no_seg": {
                    "missing": {"field": "seg"},
                    "aggs": {
                        "era": {
                            "date_range": {
                                "field": "ts",
                                "ranges": [
                                    {"key": "early", "to": jan11},
                                    {"key": "mid", "from": jan11,
                                     "to": jan21},
                                    {"key": "late", "from": jan21},
                                ],
                            },
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        }
                    },
                }
            },
        },
    )


def q_es_nested_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query (round 11, VERDICT r10 Next #4) over a
    synthesized ``array<struct<k,v>>`` attribute column (the
    array-mode dump shape — testdata has no nested fields): two
    nested clauses, each requiring BOTH conditions on the SAME
    object — k='type' with v='error', and k='band' with a b2xx
    prefix. A flattened dump would cross-match k of one object
    against v of another; ``exists(arr, x -> ...)`` cannot."""
    ev = load(spark, sf_dir, "events").withColumn(
        "attrs",
        F.array(
            F.struct(
                F.lit("type").alias("k"), F.col("event_type").alias("v")
            ),
            F.struct(
                F.lit("band").alias("k"),
                F.concat(
                    F.lit("b"),
                    F.floor(F.col("value") / 100).cast("int").cast("string"),
                ).alias("v"),
            ),
        ),
    )
    return search(
        ev,
        {
            "query": {
                "bool": {
                    "must": [
                        {"nested": {"path": "attrs", "query": {"bool": {
                            "must": [
                                {"term": {"attrs.k": "type"}},
                                {"term": {"attrs.v": "error"}},
                            ]}}}},
                        {"nested": {"path": "attrs", "query": {"bool": {
                            "must": [
                                {"term": {"attrs.k": "band"}},
                                {"prefix": {"attrs.v": "b2"}},
                            ]}}}},
                    ]
                }
            },
            "sort": [{"event_id": "asc"}],
            "size": 200,
            "_source": ["event_id", "event_type", "value"],
        },
    )


def q_es_nested_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested query ``inner_hits`` (round 13, VERDICT r12 Next #4):
    WHICH objects matched — the attrs objects are (type,
    event_type) at offset 0 and (band, 'b'+floor(value/100)) at
    offset 1; the should-query matches v='error' (offset 0 on error
    docs) or a b1 prefix (offset 1 on value∈[100,200) docs), so
    docs satisfying both emit BOTH offsets. Flat oracle shape:
    matched offsets exploded to one row per (hit, offset)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "attrs",
        F.array(
            F.struct(
                F.lit("type").alias("k"), F.col("event_type").alias("v")
            ),
            F.struct(
                F.lit("band").alias("k"),
                F.concat(
                    F.lit("b"),
                    F.floor(F.col("value") / 100).cast("int").cast("string"),
                ).alias("v"),
            ),
        ),
    )
    hits = search(
        ev,
        {
            "query": {
                "nested": {
                    "path": "attrs",
                    "query": {"bool": {
                        "should": [
                            {"term": {"attrs.v": "error"}},
                            {"prefix": {"attrs.v": "b1"}},
                        ],
                        "minimum_should_match": 1,
                    }},
                    "inner_hits": {},
                }
            },
            "sort": [{"event_id": "asc"}],
            "size": 300,
            "_source": ["event_id", "event_type", "value"],
        },
    )
    return hits.select(
        "event_id",
        "event_type",
        "value",
        F.explode("attrs_inner_hits").alias("hit_offset"),
    )


def q_es_nested_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``match`` (operator and) inside a ``nested`` scope (round 12,
    VERDICT r11 What's missing #2): the attrs objects carry a
    two-token note text; the query requires BOTH tokens on the SAME
    object's text — a doc whose tokens span two objects must not
    match (the seam tokenizes the struct element column)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "attrs",
        F.array(
            F.struct(
                F.lit("note").alias("k"),
                F.concat(
                    F.col("event_type"),
                    F.lit(" b"),
                    F.floor(F.col("value") / 100).cast("int").cast("string"),
                ).alias("v"),
            ),
            F.struct(
                F.lit("tag").alias("k"), F.col("event_type").alias("v")
            ),
        ),
    )
    return search(
        ev,
        {
            "query": {"nested": {"path": "attrs", "query": {"match": {
                "attrs.v": {"query": "error b2", "operator": "and"},
            }}}},
            "sort": [{"event_id": "asc"}],
            "size": 100,
            "_source": ["event_id", "event_type", "value"],
        },
    )


def q_es_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geohash_grid`` buckets + a ``geo_centroid`` metric (round
    11, VERDICT r10 Next #6) — the map-dashboard aggregation the
    round-10 geo QUERY class could filter for but not aggregate.
    Coordinates synthesized exactly like es_geo_queries; precision 3
    cells (~1.4°), centroid = exact-decimal mean pair. The oracle SQL
    unrolls the IDENTICAL bit-interleave tree."""
    # fan_out: the geohash bit-interleave tree ran in the starved
    # scan task
    ev = fan_out(
        load(spark, sf_dir, "events"), "event_id", "value"
    ).withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "cells": {
                    "geohash_grid": {"field": "loc", "precision": 3},
                    "aggs": {
                        "centroid": {"geo_centroid": {"field": "loc"}}
                    },
                }
            },
        },
    )


def q_es_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geotile_grid`` buckets (round 11) — Kibana maps' default
    aggregation: Web-Mercator z/x/y tile keys at zoom 6 with a
    geo_centroid metric, coordinates synthesized exactly like
    es_geo_queries; the oracle SQL spells the identical projection
    tree (12-decimal-rounded Mercator fraction before the floor)."""
    # fan_out: same starved-scan mitigation as the geohash row
    ev = fan_out(
        load(spark, sf_dir, "events"), "event_id", "value"
    ).withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "tiles": {
                    "geotile_grid": {"field": "loc", "precision": 6},
                    "aggs": {
                        "centroid": {"geo_centroid": {"field": "loc"}}
                    },
                }
            },
        },
    )


def q_es_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` AGGREGATION (round 11) over the synthesized
    ``array<struct<k,v,w>>`` attributes: one nested bucket whose
    doc_count counts OBJECTS (2 per event), then terms over the
    object key with an exact-decimal avg of the object weight — the
    agg-side twin of es_nested_query."""
    ev = load(spark, sf_dir, "events").withColumn(
        "attrs",
        F.array(
            F.struct(
                F.lit("type").alias("k"),
                F.col("event_type").alias("v"),
                F.col("value").alias("w"),
            ),
            F.struct(
                F.lit("band").alias("k"),
                F.concat(
                    F.lit("b"),
                    F.floor(F.col("value") / 100).cast("int").cast("string"),
                ).alias("v"),
                (F.col("value") * F.lit(2.0)).alias("w"),
            ),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "objs": {
                    "nested": {"path": "attrs"},
                    "aggs": {
                        "by_k": {
                            "terms": {"field": "attrs.k", "size": 10},
                            "aggs": {
                                "avg_w": {"avg": {"field": "attrs.w"}}
                            },
                        }
                    },
                }
            },
        },
    )


def q_es_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-root ``nested`` + ``reverse_nested`` (round 12, VERDICT
    r11 Next #3) — the "per category, per nested attribute" shape
    real nested mappings aggregate: terms over the parent event_type,
    a parent-field sum (must count each DOC once, not once per
    object), then nested over a VARIABLE-LENGTH synthesized attrs
    array (1 object, +1 when value >= 100), terms over the object
    key with an exact-decimal avg of the object weight, and a
    reverse_nested doc_count re-basing each leaf bucket onto its
    distinct parent docs."""
    ev = load(spark, sf_dir, "events")
    one = F.array(
        F.struct(F.lit("type").alias("k"), F.col("value").alias("w"))
    )
    two = F.array(
        F.struct(F.lit("type").alias("k"), F.col("value").alias("w")),
        F.struct(
            F.lit("band").alias("k"),
            (F.col("value") * F.lit(2.0)).alias("w"),
        ),
    )
    ev = ev.withColumn(
        "attrs", F.when(F.col("value") >= 100, two).otherwise(one)
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "objs": {
                            "nested": {"path": "attrs"},
                            "aggs": {
                                "by_k": {
                                    "terms": {"field": "attrs.k",
                                              "size": 10},
                                    "aggs": {
                                        "avg_w": {
                                            "avg": {"field": "attrs.w"}
                                        },
                                        "parents": {"reverse_nested": {}},
                                    },
                                }
                            },
                        },
                    },
                }
            },
        },
    )


def q_es_terms_include_exclude(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """terms ``include``/``exclude`` (round 12) — the Kibana
    "filter the legend" knobs: an anchored include regex keeps the
    c/e/p event types, an exclude list then drops 'error'; rejected
    keys go NULL so the excluded docs still count in the request-
    level totals (no ancestor here — single level), and survivors
    compete for size AFTER the filter, like ES."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {
                        "field": "event_type",
                        "size": 10,
                        "include": "(c|e|p).*",
                        "exclude": ["error"],
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}}
                    },
                }
            },
        },
    )


def q_es_terms_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """terms ``include: {partition, num_partitions}`` (round 14,
    VERDICT r13 Next #3) — ES's documented recipe for walking all
    unique values of a high-cardinality field across M requests:
    partition 1 of 3 over ``user_id``, sized past the partition's
    cardinality so every surviving term ranks in (the walk needs
    each request to return its whole slice). The partition function
    is the engine's portable md5 bucket (PARITY #24); the pin test
    unions all three partitions against the unpartitioned answer."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_user": {
                    "terms": {
                        "field": "user_id",
                        "size": 1000,
                        "include": {
                            "partition": 1,
                            "num_partitions": 3,
                        },
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}}
                    },
                }
            },
        },
    )


def q_es_geo_bounds_string_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``geo_bounds`` + ``string_stats`` metrics (round 12): per
    event_type, the bounding box of the synthesized coordinates (the
    es_geo_queries pattern) and length statistics of the props JSON
    string — both exact aggregate expressions in the one rollup."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "box": {"geo_bounds": {"field": "loc"}},
                        "props_len": {"string_stats": {"field": "props"}},
                    },
                }
            },
        },
    )


def q_es_bucket_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bucket_selector`` + ``normalize`` (round 12) — the alerting
    HAVING shape: hourly error buckets kept only when they hold ≥ 2
    events at an above-average value sum (s > n·80), each surviving
    bucket reporting its percent_of_sum share (computed over ALL
    buckets BEFORE selection, ES's pipeline order; selective AND
    non-empty at every SF — 3/66/4 survivors)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "error"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "keep": {
                            "bucket_selector": {
                                "buckets_path": {
                                    "n": "_count",
                                    "s": "sum_value",
                                },
                                "script":
                                    "params.n >= 2 AND "
                                    "params.s > params.n * 80",
                            }
                        },
                        "share": {
                            "normalize": {
                                "buckets_path": "sum_value",
                                "method": "percent_of_sum",
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root ``significant_terms`` over a keyword field (round 12):
    which value BANDS (runtime keyword, floor(value/50)) are
    overrepresented among the value >= 80 foreground vs the whole
    stream — bands fully inside the foreground score high, the
    straddling band partially, low bands drop on negative JLH; one
    flag-column scan, JLH micro scores (the generator's value
    distribution is type-uniform, so a synthesized band keyword
    carries the signal deterministically at every SF)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "runtime_mappings": {
                "band": {
                    "script_sql":
                        "concat('b', cast(cast(floor(value / 50) as int)"
                        " as string))"
                }
            },
            "query": {"range": {"value": {"gte": 80}}},
            "aggs": {
                "sig_band": {
                    "significant_terms": {
                        "field": "band",
                        "size": 10,
                        "min_doc_count": 2,
                    }
                }
            },
        },
    )


def q_es_significant_heuristics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The non-JLH significance heuristics (round 14, VERDICT r13
    Next #5): the root significant_terms request (value bands,
    value ≥ 80 foreground) scored under ``chi_square``,
    ``mutual_information``, ``gnd`` and ``percentage`` — four
    one-key variants of the same counts frame, unioned with a
    ``heuristic`` label. Same micro-floor discipline as the JLH
    pins; MI/GND follow the entropy/softmax 12dp libm rounding."""
    ev = load(spark, sf_dir, "events")
    out = None
    for heur in (
        "chi_square", "gnd", "mutual_information", "percentage"
    ):
        r = search_aggs(
            ev,
            {
                "runtime_mappings": {
                    "band": {
                        "script_sql":
                            "concat('b', cast(cast(floor(value / 50)"
                            " as int) as string))"
                    }
                },
                "query": {"range": {"value": {"gte": 80}}},
                "aggs": {
                    "sig_band": {
                        "significant_terms": {
                            "field": "band",
                            "size": 10,
                            "min_doc_count": 2,
                            heur: {},
                        }
                    }
                },
            },
        ).withColumn("heuristic", F.lit(heur))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("heuristic", "sig_band")


def q_es_significant_terms_per_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``terms > significant_terms`` (round 13, VERDICT r12 Next #3)
    — the Kibana "unusual terms per service" shape: per event_type
    bucket, which value BANDS are overrepresented among its
    value ≥ 40 hits vs the WHOLE stream (ES's default index
    background); per-bucket JLH micro scores, top 5."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "runtime_mappings": {
                "band": {
                    "script_sql":
                        "concat('b', cast(cast(floor(value / 50) as int)"
                        " as string))"
                }
            },
            "query": {"range": {"value": {"gte": 40}}},
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "sig_band": {
                            "significant_terms": {
                                "field": "band",
                                "size": 5,
                                "min_doc_count": 2,
                            }
                        }
                    },
                }
            },
        },
    )


def q_es_boxplot_derivative_unit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``boxplot`` + ``derivative`` with ``unit`` (round 13): hourly
    purchase-value quartile boxes and the sum's per-30-minute rate —
    the normalized_value divides by the ACTUAL key delta, so hours
    following a gap normalize over the wider span."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "bx": {"boxplot": {"field": "value"}},
                        "dv": {
                            "derivative": {
                                "buckets_path": "sum_value",
                                "unit": "30m",
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_cumulative_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``cumulative_cardinality`` (round 13): total unique purchase
    users over the gap-filled hourly grid — the Kibana running-
    distinct dashboard, exact where ES merges HLL sketches; empty
    hours carry the running value forward."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                        "min_doc_count": 0,
                        "extended_bounds": {
                            "min": 1703980800000,
                            "max": 1706742000000,
                        },
                    },
                    "aggs": {
                        "u": {"cardinality": {"field": "user_id"}},
                        "cum_u": {
                            "cumulative_cardinality": {
                                "buckets_path": "u"
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``significant_text`` (round 13): which words characterize the
    LONG documents (n_chars ≥ 400 foreground vs the whole corpus) —
    the request-shaped head over the corpus significant_terms
    operator, JLH micro scores, top 15."""
    docs = load(spark, sf_dir, "documents")
    return search_aggs(
        docs,
        {
            "query": {"range": {"n_chars": {"gte": 400}}},
            "aggs": {
                "sig_words": {
                    "significant_text": {
                        "field": "text",
                        "size": 15,
                        "min_doc_count": 3,
                    }
                }
            },
        },
    )


def q_es_string_stats_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``string_stats`` with Shannon entropy (round 13): per
    event_type, the length stats + the character-distribution
    entropy of the props JSON blobs — the ES response field the
    in-rollup string_stats omits, via the dedicated two-groupBy
    path (``entropy: true``)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "props_stats": {
                            "string_stats": {
                                "field": "props",
                                "entropy": True,
                            }
                        }
                    },
                }
            },
        },
    )


def q_es_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``diversified_sampler`` (round 13): per-type averages over a
    deterministic top-200 sample — at most 2 docs per user (docs
    missing user_id are never deduplicated, per ES), ordered by
    (value desc, event_id asc) — the explicit sort the lake-side
    reading requires (PARITY #20)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "sample": {
                    "diversified_sampler": {
                        "field": "user_id",
                        "max_docs_per_value": 2,
                        "shard_size": 200,
                        "sort": [{"value": {"order": "desc"}},
                                 {"event_id": {"order": "asc"}}],
                    },
                    "aggs": {
                        "by_type": {
                            "terms": {"field": "event_type", "size": 10},
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        }
                    },
                }
            },
        },
    )


def q_es_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``matrix_stats`` (round 12): per event_type, the correlation
    structure of (value, a synthesized value-coupled second field) —
    listwise deletion, population moments through the exact-decimal
    discipline, corr = cov/√(vx·vy) spelled identically in DuckDB."""
    ev = load(spark, sf_dir, "events").withColumn(
        "v2",
        (F.col("value") * F.lit(0.5)
         + (F.col("event_id") % F.lit(97)).cast("double")),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "mx": {"matrix_stats": {"fields": ["value", "v2"]}}
                    },
                }
            },
        },
    )


def q_es_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``adjacency_matrix`` (round 12) — the Kibana graph agg: three
    event cohorts (errors, big values, late window) with every pair
    intersection, each bucket carrying an exact ``percentile_ranks``
    metric (percent of bucket values <= 100/250 — the empirical CDF,
    where ES's t-digest interpolates)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "adj": {
                    "adjacency_matrix": {
                        "filters": {
                            "err": {"term": {"event_type": "error"}},
                            "big": {"range": {"value": {"gte": 200}}},
                            "late": {"range": {"ts": {
                                "gte": "2024-01-20 00:00:00"}}},
                        }
                    },
                    "aggs": {
                        "pranks": {
                            "percentile_ranks": {
                                "field": "value",
                                "values": [100, 250],
                            }
                        }
                    },
                }
            },
        },
    )


def q_es_filters_under_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-root ``filters`` agg (round 12): per event_type, three
    OVERLAPPING named filter buckets (big/mid by value range, errors
    by term) plus ``other_bucket`` — a doc can match several filters
    (multi-membership explode), unmatched docs land in ``_other_``,
    and the terms ancestor's doc_count/sum stay un-multiplied."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "cls": {
                            "filters": {
                                "filters": {
                                    "big": {"range": {"value": {"gte": 300}}},
                                    "mid": {"range": {"value": {
                                        "gte": 150, "lt": 400}}},
                                    "err": {"term": {
                                        "event_type": "error"}},
                                },
                                "other_bucket": True,
                            },
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        },
                    },
                }
            },
        },
    )


def q_es_multi_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``multi_terms`` + ``rare_terms`` buckets (round 12, VERDICT
    r11 Next #4): a composite (event_type × value-band) multi_terms
    level — '|'-joined key, docs missing any component dropped, sized
    past the pair cardinality so every pair survives — holding a
    parent sum and a ``rare_terms`` sub-level keeping the users with
    AT MOST one event in that (type, band) context: the long-tail
    shape rare_terms exists for (globally every user has ~50 events —
    rarity only emerges inside a bucket)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "band",
        F.concat(
            F.lit("b"),
            F.floor(F.col("value") / 100).cast("int").cast("string"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "type_band": {
                    "multi_terms": {
                        "terms": [
                            {"field": "event_type"},
                            {"field": "band"},
                        ],
                        "size": 100,
                        "order": {"_key": "asc"},
                    },
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "rare_users": {
                            "rare_terms": {
                                "field": "user_id",
                                "max_doc_count": 1,
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_range_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping ``range`` buckets (round 12, VERDICT r11 Next #5)
    — ES puts a doc in EVERY matching range, a real Kibana request
    shape round 11 refused: three value bands where [100,200) belongs
    to both 'low' and 'mid' and [250,300) to both 'mid' and 'high',
    under a terms level whose doc_count and sum metric must stay
    UN-multiplied (the pre-explode representative rows)."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "bands": {
                            "range": {
                                "field": "value",
                                "ranges": [
                                    {"key": "low", "from": 0, "to": 200},
                                    {"key": "mid", "from": 100,
                                     "to": 300},
                                    {"key": "high", "from": 250},
                                ],
                            },
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        },
                    },
                }
            },
        },
    )


def q_es_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``auto_date_histogram`` (round 11) — Kibana Lens/Discover's
    default time bucketing: the interval is chosen from the ES
    rounding ladder to fit the buckets target (default 10). The
    generators' ~31-day January window picks ``7d`` at every SF —
    reported as the ``per_auto_interval`` literal column, so the
    oracle hash VERIFIES the choice, not just the grid."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "view"}},
            "aggs": {
                "per_auto": {
                    "auto_date_histogram": {"field": "ts"},
                    "aggs": {"sum_value": {"sum": {"field": "value"}}},
                }
            },
        },
    )


def q_es_geo_distance_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_distance`` ring buckets (round 11) — distance-from-
    origin CASE chain over the same haversine tree the geo query
    class uses, with a geo_centroid metric per ring; completes the
    geo agg family (grids + centroid + rings)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "rings": {
                    "geo_distance": {
                        "field": "loc",
                        "origin": {"lat": 0.0, "lon": 0.0},
                        "ranges": [
                            {"key": "near", "to": 2_000_000},
                            {"key": "mid", "from": 2_000_000,
                             "to": 8_000_000},
                            {"key": "far", "from": 8_000_000},
                        ],
                    },
                    "aggs": {
                        "centroid": {"geo_centroid": {"field": "loc"}}
                    },
                }
            },
        },
    )


def q_es_geo_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_shape`` queries (round 14, VERDICT r13 Next #7): a
    NON-CONVEX polygon (an M-shape whose top-middle notch excludes a
    lat/lon band the convex hull would keep — the parity ray-cast is
    load-bearing) ANDed with an ``envelope``, over the synthesized
    geo_point struct of the es_geo_queries pattern; zero-shuffle
    scan + TakeOrdered page."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search(
        ev,
        {
            "query": {
                "bool": {
                    "filter": [
                        {
                            "geo_shape": {
                                "loc": {
                                    "shape": {
                                        "type": "polygon",
                                        "coordinates": [[
                                            [-100.0, -10.0],
                                            [-20.0, -10.0],
                                            [-20.0, 25.0],
                                            [-60.0, 5.0],
                                            [-100.0, 25.0],
                                            [-100.0, -10.0],
                                        ]],
                                    }
                                }
                            }
                        },
                        {
                            "geo_shape": {
                                "loc": {
                                    "shape": {
                                        "type": "envelope",
                                        "coordinates": [
                                            [-95.0, 22.0],
                                            [-25.0, -8.0],
                                        ],
                                    },
                                    "relation": "intersects",
                                }
                            }
                        },
                    ]
                }
            },
            "sort": [{"event_id": "asc"}],
            "size": 200,
            "_source": ["event_id", "loc"],
        },
    ).select(
        "event_id",
        F.col("loc.lat").alias("lat"),
        F.col("loc.lon").alias("lon"),
    )


def q_es_geo_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_bounding_box`` + ``geo_distance`` on a struct-typed
    geo_point column (round 10): coordinates synthesized
    deterministically from events (lat from value, lon from the
    always-dense event_id so every SF yields hits) (the testdata carries no geo
    fields), both predicates ANDed in one bool filter, first 100 hits
    by event_id. The haversine tree is spelled identically in the
    oracle SQL; membership is threshold-robust (point-to-threshold
    gaps are meters, engine ulp noise is millimeters)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search(
        ev,
        {
            "query": {
                "bool": {
                    "filter": [
                        {
                            "geo_bounding_box": {
                                "loc": {
                                    "top_left": {"lat": 20.0, "lon": -60.0},
                                    "bottom_right": {"lat": -20.0,
                                                     "lon": 60.0},
                                }
                            }
                        },
                        {
                            "geo_distance": {
                                "distance": "2000km",
                                "loc": {"lat": 0.0, "lon": 0.0},
                            }
                        },
                    ]
                }
            },
            "sort": [{"event_id": "asc"}],
            "size": 100,
            "_source": ["event_id", "loc"],
        },
    ).select(
        "event_id",
        F.col("loc.lat").alias("lat"),
        F.col("loc.lon").alias("lon"),
    )


def q_es_search_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``highlight`` section + ``_source`` include wildcards on a
    saved request (round 10): match-filtered hits page, snippet terms
    derived from the request's own match clause, ``doc_id``/``lang*``
    projected. Snippets are the SAME splice corpus_highlight pins —
    byte-exact vs the oracle."""
    d = load(spark, sf_dir, "documents")
    return search(
        d,
        {
            "query": {"match": {"text": {"query": "dup filter window"}}},
            "sort": [{"doc_id": "asc"}],
            "size": 15,
            "_source": {"includes": ["doc_id", "lang*"]},
            "highlight": {"fields": {"text": {}}, "fragment_size": 60},
        },
    )


def q_es_composite_datehist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pagination over a (day grid × event_type) bucket
    space — the classic page-the-whole-index rollup request (round
    10: composite sources widened past terms). Page 2 via an
    after-key cursor landing mid-grid; sum metric per bucket."""
    ev = load(spark, sf_dir, "events")
    return composite_agg(
        ev,
        sources=[
            {"day": {"date_histogram": {"field": "ts",
                                        "fixed_interval": "1d"}}},
            {"etype": {"terms": {"field": "event_type"}}},
        ],
        size=20,
        # 2024-01-05T00:00Z, 'error' — strictly-after lands mid-day-5
        after={"day": 1704412800000, "etype": "error"},
        metrics={"sum_value": {"sum": {"field": "value"}}},
    )


def q_es_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms > top_hits: the two most valuable events per type."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "top": {
                            "top_hits": {
                                "size": 2,
                                "sort": [
                                    {"value": {"order": "desc"}},
                                    {"event_id": {"order": "asc"}},
                                ],
                                "_source": ["event_id", "ts", "value"],
                            }
                        }
                    },
                }
            },
        },
    )


def q_es_top_hits_nonleaf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``top_hits`` under a NON-LEAF bucket (round 14, VERDICT r13
    Next #4): per event type (top 3 of 5 — the terms prune is
    load-bearing), the weekly sub-buckets AND the type's two most
    valuable events, plus a sibling sum metric — the union frame of
    bucket rows and rank-bearing doc rows."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 3},
                    "aggs": {
                        "weekly": {
                            "date_histogram": {
                                "field": "ts",
                                "fixed_interval": "7d",
                            }
                        },
                        "sum_value": {"sum": {"field": "value"}},
                        "top2": {
                            "top_hits": {
                                "size": 2,
                                "sort": [
                                    {"value": {"order": "desc"}},
                                    {"event_id": {"order": "asc"}},
                                ],
                                "_source": ["event_id", "value"],
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_rate_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rate`` + ``median_absolute_deviation`` (round 13): monthly
    order volume as a per-DAY revenue rate and a per-WEEK order rate
    — the divisor is each month's ACTUAL day count (28/29/30/31,
    leap Februaries included), the Kibana "daily rate" time-series
    shape — plus the exact MAD of the month's order values (ES
    approximates via t-digest; the established exactness divergence
    class)."""
    orders = load(spark, sf_dir, "orders")
    return search_aggs(
        orders,
        {
            "aggs": {
                "per_month": {
                    "date_histogram": {
                        "field": "o_orderdate",
                        "calendar_interval": "month",
                    },
                    "aggs": {
                        "price_per_day": {
                            "rate": {
                                "field": "o_totalprice",
                                "unit": "day",
                            }
                        },
                        "orders_per_week": {"rate": {"unit": "week"}},
                        "mad_price": {
                            "median_absolute_deviation": {
                                "field": "o_totalprice"
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_nested_inside_nested(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nested-inside-nested AGGREGATION (round 14, lifting the
    r12/PARITY #22 one-nested bound): terms > nested > terms >
    nested > terms over a synthesized two-level array — each event
    carries two outer objects ('tags' with two inner entries, a
    value band whose inner array is EMPTY unless value > 250, so the
    empty-inner carry is load-bearing), doc counts re-basing
    doc → outer object → inner object and the level-1 sum masked to
    one row per doc through BOTH explodes."""
    # fan_out: the two-level array build + double explode ran in the
    # starved scan task (measured 1t/0.42 s)
    ev = fan_out(
        load(spark, sf_dir, "events"), "event_id", "event_type", "value"
    ).withColumn(
        "p",
        F.array(
            F.struct(
                F.lit("tags").alias("k"),
                F.array(
                    F.struct(
                        F.lit("lo").alias("t"),
                        F.col("value").alias("v"),
                    ),
                    F.struct(
                        F.lit("hi").alias("t"),
                        (F.col("value") * F.lit(2.0)).alias("v"),
                    ),
                ).alias("inner"),
            ),
            F.struct(
                F.concat(
                    F.lit("b"),
                    F.floor(F.col("value") / 100)
                    .cast("int").cast("string"),
                ).alias("k"),
                F.when(
                    F.col("value") > 250,
                    F.array(
                        F.struct(
                            F.lit("big").alias("t"),
                            F.col("value").alias("v"),
                        )
                    ),
                )
                .otherwise(
                    F.array().cast(
                        "array<struct<t string, v double>>"
                    )
                )
                .alias("inner"),
            ),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "sum_value": {"sum": {"field": "value"}},
                        "outer_objs": {
                            "nested": {"path": "p"},
                            "aggs": {
                                "by_k": {
                                    "terms": {"field": "p.k",
                                              "size": 10},
                                    "aggs": {
                                        "inner_objs": {
                                            "nested": {
                                                "path": "p.inner"
                                            },
                                            "aggs": {
                                                "by_t": {
                                                    "terms": {
                                                        "field":
                                                        "p.inner.t",
                                                        "size": 10,
                                                    },
                                                    "aggs": {
                                                        "sum_v": {
                                                            "sum": {
                                                                "field":
                                                                "p.inner.v"
                                                            }
                                                        }
                                                    },
                                                }
                                            },
                                        }
                                    },
                                }
                            },
                        },
                    },
                }
            },
        },
    )


def q_es_categorize_text(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``categorize_text`` (round 14): log-like messages synthesized
    from events ('user N <type> value V', high values appending an
    ALERT suffix) bucket by their token skeleton — digit-bearing
    tokens wildcarded to '*' — with a per-category doc count and avg
    value; ~10 categories, size 8 so the count-desc rank bites."""
    # fan_out: message synthesis + token-skeleton regex ran in the
    # starved scan task (measured 1t/0.41 s)
    ev = fan_out(
        load(spark, sf_dir, "events"), "user_id", "event_type", "value"
    ).withColumn(
        "msg",
        F.concat_ws(
            " ",
            F.lit("user"),
            F.col("user_id"),
            F.col("event_type"),
            F.lit("value"),
            F.col("value").cast("int"),
            F.when(
                F.col("value") > 400,
                F.lit("ALERT threshold 400 exceeded"),
            ),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "cats": {
                    "categorize_text": {"field": "msg", "size": 8},
                    "aggs": {
                        "avg_value": {"avg": {"field": "value"}}
                    },
                }
            },
        },
    )


def q_es_rate_iana(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rate`` under an IANA ``time_zone`` (round 14, closing the
    r13 bound): per event type, monthly buckets at America/New_York
    LOCAL boundaries (UTC events near month edges land in the other
    local month — the tzdb is load-bearing twice: the key AND the
    divisor's local day count), value summed per local-calendar DAY
    and events counted per week."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "per_month": {
                            "date_histogram": {
                                "field": "ts",
                                "calendar_interval": "month",
                                "time_zone": "America/New_York",
                            },
                            "aggs": {
                                "value_per_day": {
                                    "rate": {
                                        "field": "value",
                                        "unit": "day",
                                    }
                                },
                                "events_per_week": {
                                    "rate": {"unit": "week"}
                                },
                            },
                        }
                    },
                }
            },
        },
    )


def q_es_bucket_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentiles_bucket`` + ``extended_stats_bucket`` (round 13):
    per event type, summarize the daily revenue-sum distribution —
    exact quartiles (ES t-digest's divergence class) and the
    extended_stats moment tree over the surviving day buckets. The
    sibling-pipe window family stats_bucket pins, widened to the
    remaining two *_bucket kinds."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "per_day": {
                            "date_histogram": {
                                "field": "ts",
                                "fixed_interval": "1d",
                            },
                            "aggs": {
                                "sv": {"sum": {"field": "value"}}
                            },
                        },
                        "pb": {
                            "percentiles_bucket": {
                                "buckets_path": "per_day>sv",
                                "percents": [25, 50, 75],
                            }
                        },
                        "esb": {
                            "extended_stats_bucket": {
                                "buckets_path": "per_day>sv"
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``moving_percentiles`` (round 13): trailing-4-hour p50/p90 of
    purchase values over the gap-filled hourly grid — the exact
    union-of-raw-values reading of ES's merged t-digests; empty
    hours occupy window positions and contribute nothing."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "per_hour": {
                    "date_histogram": {
                        "field": "ts",
                        "calendar_interval": "hour",
                        "min_doc_count": 0,
                    },
                    "aggs": {
                        "pct": {
                            "percentiles": {
                                "field": "value",
                                "percents": [50, 90],
                            }
                        },
                        "mp": {
                            "moving_percentiles": {
                                "buckets_path": "pct",
                                "window": 4,
                            }
                        },
                    },
                }
            },
        },
    )


def q_es_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``global`` (round 13): per-type doc counts and value averages
    over the WHOLE index while the request's query narrows the hits
    — the Kibana "overall vs filtered" comparison scope; the query
    must leave the numbers untouched."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "query": {"term": {"event_type": "purchase"}},
            "aggs": {
                "all_docs": {
                    "global": {},
                    "aggs": {
                        "by_type": {
                            "terms": {"field": "event_type", "size": 10},
                            "aggs": {
                                "avg_value": {"avg": {"field": "value"}}
                            },
                        }
                    },
                }
            },
        },
    )


def q_es_string_stats_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``string_stats`` with ``show_distribution`` (round 13): the
    per-character probability map of the props JSON blobs per event
    type, flattened to one row per (bucket, char) — the ES response
    field the in-rollup form refuses, via the dedicated
    char-histogram path."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "aggs": {
                "by_type": {
                    "terms": {"field": "event_type", "size": 10},
                    "aggs": {
                        "props_stats": {
                            "string_stats": {
                                "field": "props",
                                "show_distribution": True,
                            }
                        }
                    },
                }
            },
        },
    )


# ---------------------------------------------------------------------------
# join-field family (round 13): has_child / has_parent queries and the
# children aggregation
# ---------------------------------------------------------------------------

def has_child_filter(
    parent_df: DataFrame,
    child_df: DataFrame,
    parent_key: str,
    child_key: str,
    child_query: dict | None,
    min_children: int = 1,
    max_children: int | None = None,
) -> DataFrame:
    """ES ``has_child`` query (round 13): parents whose matching-child
    count lies in ``[min_children, max_children]`` — ES's join-field
    docs live in ONE index; the lake dump splits the doc types into
    two tables, so the two-frame form IS the faithful reading
    (documented engine shape, like the sampler's sort rule).

    One child-side filtered groupBy(child_key) builds the per-parent
    match counts (data-sized but pre-aggregated — one row per parent
    key reaches the join), then one equi-join onto the parents:
    inner for min_children >= 1 (a semi-join with a count guard),
    LEFT + coalesce for min_children 0 (childless parents match, as
    ES's spec says). Scoring (score_mode) is out of scope in filter
    context, like the rest of the query DSL here."""
    if min_children < 0:
        raise ValueError("min_children must be >= 0")
    counts = (
        child_df.filter(_false_safe(compile_query(child_query)))
        .filter(F.col(child_key).isNotNull())
        .groupBy(F.col(child_key).alias("_ck"))
        .agg(F.count(F.lit(1)).alias("_n_children"))
    )
    if min_children == 0:
        joined = parent_df.join(
            counts, parent_df[parent_key] == counts["_ck"], "left"
        ).withColumn(
            "_n_children", F.coalesce(F.col("_n_children"), F.lit(0))
        )
    else:
        joined = parent_df.join(
            counts, parent_df[parent_key] == counts["_ck"], "inner"
        )
    cond = F.col("_n_children") >= min_children
    if max_children is not None:
        cond = cond & (F.col("_n_children") <= max_children)
    return joined.filter(cond).drop("_ck", "_n_children")


def has_child_inner_hits(
    parent_df: DataFrame,
    child_df: DataFrame,
    parent_key: str,
    child_key: str,
    child_query: dict | None,
    inner_hits: dict | None = None,
    min_children: int = 1,
    max_children: int | None = None,
) -> DataFrame:
    """``has_child`` WITH an ``inner_hits`` section (round 14,
    closing PARITY #23's bound): per matching parent, the section's
    top-``size`` matching children — one row per reported child,
    ``(child_key, <name>_rank, <_source columns>)``, ordered by
    parent then rank like the ES response read off in order.

    The section needs an EXPLICIT ``sort`` (ES's default ``_score``
    inner order has no deterministic lake reading — the sampler's
    rule); a ``min_children: 0`` parent with zero matching children
    contributes no rows here (its hit still matches the filter form
    — this frame is the inner_hits CONTENT, child-shaped by
    definition).

    Scale shape: the matched-parents frame from has_child_filter
    projects to its KEY column for one semi-join against the
    filtered children (both sides data-sized → SMJ, the right
    shape); the rank window partitions by the child's parent key —
    no global sort, ``size`` rows per parent survive."""
    ih = dict(inner_hits or {})
    size = int(ih.get("size", 3))
    sort = ih.get("sort")
    if not sort:
        raise ValueError(
            "inner_hits on has_child needs an explicit sort (ES's "
            "default _score order has no deterministic lake reading)"
        )
    name = ih.get("name", "inner")
    source = ih.get(
        "_source", [c for c in child_df.columns if c != child_key]
    )
    # the output leads with (child_key, rank) — a _source repeating
    # the key, or a rank-named source column, would emit duplicate
    # columns and break the orderBy with an ambiguous reference
    # (review finding; the _top_hits_nonleaf_plan clash-guard class)
    clash = sorted({child_key, f"{name}_rank"} & set(source))
    if clash:
        raise ValueError(
            f"inner_hits _source collides with the output's key/rank "
            f"columns: {clash}"
        )
    parents = has_child_filter(
        parent_df, child_df, parent_key, child_key,
        child_query, min_children, max_children,
    ).select(F.col(parent_key).alias("_pk"))
    matched = (
        child_df.filter(_false_safe(compile_query(child_query)))
        .join(parents, F.col(child_key) == F.col("_pk"), "left_semi")
    )
    rank = f"{name}_rank"
    w = Window.partitionBy(child_key).orderBy(*_sort_cols(sort))
    return (
        matched.withColumn(rank, F.row_number().over(w).cast("int"))
        .filter(F.col(rank) <= size)
        .select(child_key, rank, *source)
        .orderBy(child_key, rank)
    )


def has_parent_filter(
    child_df: DataFrame,
    parent_df: DataFrame,
    child_key: str,
    parent_key: str,
    parent_query: dict | None,
) -> DataFrame:
    """ES ``has_parent`` query (round 13): children whose parent
    matches the inner query — one semi-join against the filtered
    parent keys (the matching-parents frame carries ONLY the key
    column to the join)."""
    keys = (
        parent_df.filter(_false_safe(compile_query(parent_query)))
        .select(F.col(parent_key).alias("_pk"))
        .filter(F.col("_pk").isNotNull())
    )
    return child_df.join(
        keys, child_df[child_key] == keys["_pk"], "left_semi"
    )


def has_parent_inner_hits(
    child_df: DataFrame,
    parent_df: DataFrame,
    child_key: str,
    parent_key: str,
    parent_query: dict | None,
    inner_hits: dict | None = None,
    source: list | None = None,
) -> DataFrame:
    """``has_parent`` WITH an ``inner_hits`` section (round 14,
    PARITY #23): each matching child hit carries its matched
    PARENT's ``_source`` columns — a child has exactly one parent,
    so the section is a one-row splice and the frame is one
    equi-join of the filtered parent projection onto the has_parent
    hits (the semi-join's keys frame widened to the requested
    columns), parent columns prefixed ``<name>_``. ``source``
    projects the child side."""
    ih = dict(inner_hits or {})
    name = ih.get("name", "parent")
    psource = ih.get("_source")
    if not psource:
        raise ValueError(
            "inner_hits on has_parent needs an explicit _source list "
            "(the parent columns to splice onto each child hit)"
        )
    cols = source if source is not None else [
        c for c in child_df.columns
    ]
    clash = sorted(set(cols) & {f"{name}_{c}" for c in psource})
    if clash:
        raise ValueError(
            f"inner_hits prefixed parent columns collide with child "
            f"columns: {clash} — rename via the section's name"
        )
    parents = parent_df.filter(
        _false_safe(compile_query(parent_query))
    ).select(
        F.col(parent_key).alias("_pk"),
        *[F.col(c).alias(f"{name}_{c}") for c in psource],
    )
    out = child_df.join(
        parents, child_df[child_key] == parents["_pk"], "inner"
    ).drop("_pk")
    return out.select(*cols, *[f"{name}_{c}" for c in psource])


def children_aggs(
    parent_df: DataFrame,
    child_df: DataFrame,
    parent_key: str,
    child_key: str,
    terms_name: str,
    terms_body: dict,
    children_name: str,
    child_aggs: dict,
) -> DataFrame:
    """ES ``children`` aggregation (round 13): a parent-side terms
    bucket whose sub-tree re-bases onto the bucket's CHILD docs —
    ``terms(parent field) > children > metrics(child fields)``.

    Two bucket-frame-sized aggregates from two scans (the doc types
    live in different tables lake-side): the parent groupBy gives the
    bucket's PARENT doc_count; the child side joins each child to its
    parent's bucket key (one equi-join whose build side is the
    2-column parent (key, bucket) projection), then one groupBy gives
    the ``children`` doc_count and the child metrics; the two frames
    join on the bucket key (bucket-sized). Flat columns: ``(level=1,
    <terms_name>, doc_count, <children_name>_doc_count,
    <child metric columns>)``."""
    tfield = terms_body["field"]
    size = int(terms_body.get("size", 10))
    parents = (
        parent_df.filter(F.col(tfield).isNotNull())
        .groupBy(F.col(tfield).alias(terms_name))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.orderBy(
                    F.col("doc_count").desc(), F.col(terms_name).asc()
                )
            ),
        )
        .filter(F.col("_prank") <= size)
        .drop("_prank")
    )
    pk = parent_df.select(
        F.col(parent_key).alias("_pk"), F.col(tfield).alias(terms_name)
    ).filter(F.col(terms_name).isNotNull() & F.col("_pk").isNotNull())
    joined = child_df.join(
        pk, child_df[child_key] == pk["_pk"], "inner"
    )
    lvl = _Level(children_name, "filter", {})
    lvl.metrics = list(child_aggs.items())
    mcols = [(nm, e) for nm, e, _ in _metric_cols([lvl])]
    children = joined.groupBy(terms_name).agg(
        F.count(F.lit(1)).alias(f"{children_name}_doc_count"),
        *[e.alias(nm) for nm, e in mcols],
    )
    return (
        parents.join(children, terms_name, "left")
        .withColumn(
            f"{children_name}_doc_count",
            F.coalesce(
                F.col(f"{children_name}_doc_count"), F.lit(0)
            ),
        )
        .orderBy(F.col(terms_name).asc())
        .select(
            F.lit(1).cast("int").alias("level"),
            terms_name,
            "doc_count",
            f"{children_name}_doc_count",
            *[nm for nm, _ in mcols],
        )
    )


def q_es_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``has_child``: orders with at least TWO returned line items
    (l_returnflag 'R'), plus the childless-parents form pinned in
    tests — the join-field family's lake reading (two tables, one
    pre-aggregated counts join)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    out = has_child_filter(
        orders,
        li,
        "o_orderkey",
        "l_orderkey",
        {"term": {"l_returnflag": "R"}},
        min_children=2,
    )
    return out.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).orderBy("o_orderkey")


def q_es_has_child_inner_hits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``has_child`` + ``inner_hits`` (round 14, closing PARITY
    #23's bound): for each order with at least two returned line
    items, its two highest-value returned items — explicit sort
    (extendedprice desc, linenumber asc), named section."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return has_child_inner_hits(
        orders,
        li,
        "o_orderkey",
        "l_orderkey",
        {"term": {"l_returnflag": "R"}},
        {
            "size": 2,
            "name": "top_returns",
            "sort": [
                {"l_extendedprice": "desc"},
                {"l_linenumber": "asc"},
            ],
            "_source": ["l_linenumber", "l_extendedprice",
                        "l_quantity"],
        },
        min_children=2,
    )


def q_es_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``has_parent``: line items whose order is URGENT — one
    semi-join against the filtered parent keys."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    out = has_parent_filter(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        {"term": {"o_orderpriority": "1-URGENT"}},
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_quantity"
    ).orderBy("l_orderkey", "l_linenumber")


def q_es_has_parent_inner_hits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``has_parent`` + ``inner_hits`` (round 14, PARITY #23): line
    items of URGENT orders, each hit carrying its order's priority
    and total price."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return has_parent_inner_hits(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        {"term": {"o_orderpriority": "1-URGENT"}},
        {"name": "order", "_source": ["o_orderpriority",
                                      "o_totalprice"]},
        source=["l_orderkey", "l_linenumber", "l_quantity"],
    ).orderBy("l_orderkey", "l_linenumber")


def q_es_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``children`` aggregation: per order priority, the parent doc
    count and the child line items' count / quantity sum / average
    extended price."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return children_aggs(
        orders,
        li,
        "o_orderkey",
        "l_orderkey",
        "by_priority",
        {"field": "o_orderpriority", "size": 10},
        "items",
        {
            "sum_qty": {"sum": {"field": "l_quantity"}},
            "avg_price": {"avg": {"field": "l_extendedprice"}},
        },
    )


def q_es_reverse_nested_aggs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``reverse_nested`` WITH sub-aggregations (round 13, closing
    the r12 doc_count-only bound): per nested attribute key, re-base
    onto the distinct parent docs and aggregate PARENT fields — each
    parent counts once even when several of its objects land in the
    bucket (the per-(bucket, parent) representative mask)."""
    ev = load(spark, sf_dir, "events")
    one = F.array(
        F.struct(F.lit("type").alias("k"), F.col("value").alias("w"))
    )
    two = F.array(
        F.struct(F.lit("type").alias("k"), F.col("value").alias("w")),
        F.struct(
            F.lit("band").alias("k"),
            (F.col("value") * F.lit(2.0)).alias("w"),
        ),
    )
    ev = ev.withColumn(
        "attrs", F.when(F.col("value") >= 100, two).otherwise(one)
    )
    return search_aggs(
        ev,
        {
            "aggs": {
                "objs": {
                    "nested": {"path": "attrs"},
                    "aggs": {
                        "by_k": {
                            "terms": {"field": "attrs.k", "size": 10},
                            "aggs": {
                                "avg_w": {"avg": {"field": "attrs.w"}},
                                "parents": {
                                    "reverse_nested": {},
                                    "aggs": {
                                        "avg_value": {
                                            "avg": {"field": "value"}
                                        },
                                        "n_users": {
                                            "cardinality": {
                                                "field": "user_id"
                                            }
                                        },
                                    },
                                },
                            },
                        }
                    },
                }
            },
        },
    )


def frequent_item_sets(
    df: DataFrame,
    items_col: str,
    min_support: float = 0.1,
    max_size: int = 2,
    min_set_size: int = 1,
    size: int = 50,
) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation (round 13) — x-pack ML's
    association mining ("items bought together") — as EXACT apriori
    over an ``array<string>`` basket column.

    Level-wise: distinct items per doc explode once and count
    (support = doc freq / total docs); pairs and triples enumerate
    ordered combinations of each doc's FREQUENT-SINGLETON-filtered
    distinct items via self-explodes with ``a < b`` guards — O(k²)/
    O(k³) rows per doc where k is the basket width AFTER the
    singleton prune, never a cross-doc product. ``max_size`` > 3
    raises (each extra size is another bounded explode).

    Divergences, documented: ES runs sampled eclat and keeps only
    CLOSED itemsets — this exact reading emits EVERY itemset at or
    above ``min_support`` (a superset: an itemset ES drops as
    non-closed appears here with the same doc_count as its closure);
    ES's per-field `fields` spec collapses to the single
    pre-assembled basket column (build multi-field baskets with
    ``concat``/``array_union`` upstream). Output: one row per
    itemset — ``(items '|'-joined in lexicographic order, set_size,
    doc_count, support_r6)``, support-ranked top ``size`` with the
    key as tie-break."""
    if not 0.0 < min_support <= 1.0:
        raise ValueError("min_support must be in (0, 1]")
    if max_size > 3:
        raise ValueError(
            "frequent_item_sets supports itemset sizes up to 3"
        )
    if not 1 <= min_set_size <= max_size:
        raise ValueError("need 1 <= min_set_size <= max_size")
    base = df.select(
        F.array_sort(
            F.array_distinct(
                # a NULL element is not an item (ES ignores missing
                # values); dropping it here keeps the explode from
                # emitting a NULL itemset row
                F.filter(F.col(items_col), lambda x: x.isNotNull())
            )
        ).alias("_items")
    ).filter(F.size("_items") > 0)
    base = base.persist()
    n_docs = base.count()
    if n_docs == 0:
        base.unpersist()
    min_docs = int(math.ceil(min_support * n_docs)) if n_docs else 0
    single = (
        base.select(F.explode("_items").alias("i1"))
        .groupBy("i1")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") >= F.lit(max(min_docs, 1)))
    )
    freq1 = single.select("i1")
    frames = []
    if min_set_size <= 1:
        frames.append(
            single.select(
                F.col("i1").alias("items"),
                F.lit(1).alias("set_size"),
                "doc_count",
            )
        )
    if max_size >= 2 and n_docs:
        # prune each basket to frequent singletons FIRST (apriori):
        # the combination explodes run over the narrowed arrays
        fr = F.broadcast(freq1.agg(
            F.collect_set("i1").alias("_f1")
        ))
        pruned = base.crossJoin(fr).select(
            F.array_sort(
                F.array_intersect(F.col("_items"), F.col("_f1"))
            ).alias("_items")
        ).filter(F.size("_items") >= 2).persist()
        pairs = (
            pruned.select(
                F.explode("_items").alias("i1"), "_items"
            )
            .select(
                "i1", F.explode("_items").alias("i2")
            )
            .filter(F.col("i1") < F.col("i2"))
            .groupBy("i1", "i2")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") >= F.lit(max(min_docs, 1)))
        )
        if min_set_size <= 2:
            frames.append(
                pairs.select(
                    F.concat_ws("|", "i1", "i2").alias("items"),
                    F.lit(2).alias("set_size"),
                    "doc_count",
                )
            )
        if max_size >= 3:
            triples = (
                pruned.filter(F.size("_items") >= 3)
                .select(F.explode("_items").alias("i1"), "_items")
                .select(
                    "i1", F.explode("_items").alias("i2"), "_items"
                )
                .filter(F.col("i1") < F.col("i2"))
                .select(
                    "i1", "i2", F.explode("_items").alias("i3")
                )
                .filter(F.col("i2") < F.col("i3"))
                .groupBy("i1", "i2", "i3")
                .agg(F.count(F.lit(1)).alias("doc_count"))
                .filter(
                    F.col("doc_count") >= F.lit(max(min_docs, 1))
                )
            )
            frames.append(
                triples.select(
                    F.concat_ws("|", "i1", "i2", "i3").alias("items"),
                    F.lit(3).alias("set_size"),
                    "doc_count",
                )
            )
    if not frames:  # empty input with min_set_size >= 2
        return df.sparkSession.createDataFrame(
            [],
            "items string, set_size int, doc_count long, "
            "support_r6 double",
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    # top-`size` via orderBy().limit() → TakeOrderedAndProject (the
    # sampler's house style, es_search.py:3978) — the min_support
    # filter bounds the frame, but TakeOrdered is strictly better
    # than the earlier single-partition row_number window + re-sort
    # (VERDICT r13 What's wrong, minor): partial top-k on the map
    # side, one exchange fewer
    return (
        out.withColumn(
            "support_r6",
            F.round(F.col("doc_count") / F.lit(n_docs or 1), 6),
        )
        .orderBy(F.col("doc_count").desc(), F.col("items").asc())
        .limit(size)
    )


def q_es_frequent_item_sets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``frequent_item_sets`` over per-order part-brand baskets
    (lineitem ⋈ part → collect_set of brands per order): singleton +
    pair itemsets at 1% support — the "brands bought together"
    shape."""
    # fan_out: the 600k-row lineitem scan is one split; the join +
    # basket build otherwise funnel through it
    li = fan_out(
        load(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )
    part = load(spark, sf_dir, "part")
    # pin the basket-build width: AQE coalesces the byte-light but
    # CPU-dense collect_set/array stage to ~3 tasks (measured 3t
    # carrying 0.69 s); a keyed REPARTITION_BY_NUM is exempt from
    # coalescing and the groupBy reuses its partitioning (no second
    # exchange) — the knn GEMM discipline
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"], "inner")
        .repartition(sp, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("brands"))
    )
    return frequent_item_sets(
        baskets, "brands", min_support=0.01, max_size=2, size=40
    )


def q_es_significant_terms_bgfilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``significant_terms`` with ``background_filter`` (round 13):
    which value bands characterize the value >= 120 foreground
    AGAINST the value >= 40 slice (not the whole index) — Kibana's
    filtered-dashboard comparison; bands below the background floor
    vanish from bg_count, shifting every percentage."""
    ev = load(spark, sf_dir, "events")
    return search_aggs(
        ev,
        {
            "runtime_mappings": {
                "band": {
                    "script_sql":
                        "concat('b', cast(cast(floor(value / 50) as int)"
                        " as string))"
                }
            },
            "query": {"range": {"value": {"gte": 120}}},
            "aggs": {
                "sig_band": {
                    "significant_terms": {
                        "field": "band",
                        "size": 10,
                        "min_doc_count": 2,
                        "background_filter": {
                            "range": {"value": {"gte": 40}}
                        },
                    }
                }
            },
        },
    )


def q_es_compound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound scoring wrappers in filter context (round 15,
    VERDICT r14 Next #3): one bool nesting all three —
    ``dis_max`` (→ NULL-safe OR of its queries), ``constant_score``
    (→ its filter clause) and ``boosting`` under must_not (→ its
    positive clause; the negative only demotes scores). The oracle
    spells the identical COALESCE tree."""
    ev = load(spark, sf_dir, "events")
    return search(
        ev,
        {
            "query": {"bool": {
                "must": [
                    {"dis_max": {
                        "queries": [
                            {"term": {"event_type": "click"}},
                            {"range": {"value": {"gte": 900}}},
                        ],
                        "tie_breaker": 0.7,
                    }},
                    {"constant_score": {
                        "filter": {"range": {"value": {"gte": 10}}},
                        "boost": 3.0,
                    }},
                ],
                "must_not": [
                    {"boosting": {
                        "positive": {"term": {"user_id": 13}},
                        "negative": {"term": {"event_type": "view"}},
                        "negative_boost": 0.2,
                    }},
                ],
            }},
            "sort": [{"event_id": "asc"}],
            "size": 150,
            "_source": ["event_id", "event_type", "value", "user_id"],
        },
    )


def q_es_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``function_score`` / ``script_score`` in filter context
    (round 17, VERDICT r16 Next #2, PARITY #43): the saved-Kibana
    wrapper shape — a bool nesting a function_score (whose inner
    dis_max decides the matched set; the filter/weight/random_score
    functions and score_mode/boost_mode only shape _score) in must,
    and a script_score under must_not (the Painless body is
    score-only — the exclusion is its inner term query). The oracle
    spells only the inner queries, which IS the reduction."""
    ev = load(spark, sf_dir, "events")
    return search(
        ev,
        {
            "query": {"bool": {
                "must": [
                    {"function_score": {
                        "query": {"dis_max": {"queries": [
                            {"term": {"event_type": "click"}},
                            {"range": {"value": {"gte": 800}}},
                        ]}},
                        "functions": [
                            {"filter": {"term": {"event_type": "click"}},
                             "weight": 5},
                            {"random_score": {"seed": 42}},
                        ],
                        "score_mode": "sum",
                        "boost_mode": "multiply",
                        "max_boost": 10.0,
                    }},
                ],
                "must_not": [
                    {"script_score": {
                        "query": {"term": {"user_id": 13}},
                        "script": {
                            "source": "doc['value'].value / 10"
                        },
                    }},
                ],
            }},
            "sort": [{"event_id": "asc"}],
            "size": 150,
            "_source": ["event_id", "event_type", "value", "user_id"],
        },
    )


def q_es_match_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-as-you-type (round 15, VERDICT r14 Next #5): both
    prefix-match forms over the documents corpus in one tagged
    union — ``match_phrase_prefix`` ('slow jo' → the phrase 'slow'
    followed by a token starting 'jo') and ``match_bool_prefix``
    ('merge vec' operator and → token 'merge' anywhere plus any
    token starting 'vec')."""
    d = load(spark, sf_dir, "documents")
    a = search(
        d,
        {
            "query": {"match_phrase_prefix": {"text": "slow jo"}},
            "sort": [{"doc_id": "asc"}],
            "size": 100,
            "_source": ["doc_id"],
        },
    ).withColumn("form", F.lit("phrase_prefix"))
    b = search(
        d,
        {
            "query": {"match_bool_prefix": {"text": {
                "query": "merge vec", "operator": "and"}}},
            "sort": [{"doc_id": "asc"}],
            "size": 100,
            "_source": ["doc_id"],
        },
    ).withColumn("form", F.lit("bool_prefix"))
    return a.unionByName(b).orderBy("form", "doc_id")


def q_es_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip/CIDR support (round 15 + round 17 IPv6, VERDICT r16 Next
    #5): a dual-stack synthetic pair — a dotted-quad ``ip`` and an
    IPv6 ``ip6`` with '::' compression (the dump carries ES ``ip``
    fields as strings) — filtered by a v4 CIDR ``term`` (the
    octet-split band) AND a v6 CIDR ``term`` (the biased hi/lo
    two-long band via the /64 split reading, PARITY #30; the
    load-bearing round-17 arm: it quarters the banded set), with
    the ``ip_range`` aggregation over explicit from/to bounds plus
    a ``mask`` entry and an exact-decimal avg per band."""
    # fan_out (round 17, guide §2.5): the single-row-group scan would
    # otherwise run BOTH ip parse trees + the band filter in one task
    # (measured 0.97 s of the query's 1.12 s serial); the barrier
    # spreads the per-row expression CPU across the executor width and
    # ships only the three narrow base columns through the exchange.
    ev = (
        fan_out(load(spark, sf_dir, "events"), "user_id", "event_id", "value")
        .withColumn(
            "ip",
            F.concat_ws(
                ".",
                F.lit("10"),
                ((F.col("user_id") % F.lit(4)) * F.lit(64))
                .cast("int").cast("string"),
                (F.col("user_id") % F.lit(256)).cast("int")
                .cast("string"),
                (F.col("event_id") % F.lit(256)).cast("int")
                .cast("string"),
            ),
        )
        .withColumn(
            "ip6",
            F.concat(
                F.lit("2001:db8::"),
                F.lower(F.hex((F.col("user_id") % F.lit(256))
                              .cast("int"))),
                F.lit(":"),
                F.lower(F.hex((F.col("event_id") % F.lit(256))
                              .cast("int"))),
            ),
        )
    )
    return search_aggs(
        ev,
        {
            "query": {"bool": {"must": [
                {"term": {"ip": "10.0.0.0/9"}},
                # /108 band over lo = (user_id%256)<<16 | ev%256:
                # keeps exactly user_id%256 < 16
                {"term": {"ip6": "2001:db8::/108"}},
            ]}},
            "aggs": {"bands": {
                "ip_range": {
                    "field": "ip",
                    "ranges": [
                        {"mask": "10.0.0.0/10"},
                        {"from": "10.64.0.0", "to": "10.64.128.0"},
                        {"from": "10.64.128.0"},
                    ],
                },
                "aggs": {"avg_v": {"avg": {"field": "value"}}},
            }},
        },
    )


def q_es_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ip_prefix`` aggregation (round 16): subnet rollup of the
    synthetic dotted-quad column at /10 with the prefix appended to
    the key, an exact-decimal avg per subnet — the log-analytics
    "which networks are talking" shape."""
    # fan_out: ip synthesis + octet parse ran in the starved scan
    # task (measured 1t/0.86 s)
    ev = fan_out(
        load(spark, sf_dir, "events"), "user_id", "event_id", "value"
    ).withColumn(
        "ip",
        F.concat_ws(
            ".",
            F.lit("10"),
            ((F.col("user_id") % F.lit(4)) * F.lit(64))
            .cast("int").cast("string"),
            (F.col("user_id") % F.lit(256)).cast("int").cast("string"),
            (F.col("event_id") % F.lit(256)).cast("int").cast("string"),
        ),
    )
    return search_aggs(
        ev,
        {
            "aggs": {"subnets": {
                "ip_prefix": {
                    "field": "ip",
                    "prefix_length": 10,
                    "append_prefix_length": True,
                },
                "aggs": {"avg_v": {"avg": {"field": "value"}}},
            }},
        },
    )


def q_es_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``random_sampler`` aggregation (round 16): sub-aggs over a
    deterministic 25% portable-hash sample (the engine's reading of
    ES's per-shard random sampler — PARITY #35), doc_count scaled
    back by 1/probability with ES's rounding, the avg metric
    unscaled (unbiased under uniform sampling)."""
    # fan_out: portable-hash + partial agg ran in the starved scan
    # task (measured 1t/0.51 s)
    ev = fan_out(
        load(spark, sf_dir, "events"), "event_id", "event_type", "value"
    )
    return search_aggs(
        ev,
        {
            "aggs": {"sample": {
                "random_sampler": {
                    "probability": 0.25,
                    "seed": 42,
                    "field": "event_id",
                },
                "aggs": {"types": {
                    "terms": {"field": "event_type"},
                    "aggs": {"avg_v": {"avg": {"field": "value"}}},
                }},
            }},
        },
    )


def q_es_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``terms_set`` query (round 15, VERDICT r14 Next #7): at least
    ``req`` of the supplied terms must appear in the array-mode
    ``tags`` column — the per-doc minimum comes from the
    ``minimum_should_match_field``, so one literal query matches
    under different thresholds per document."""
    ev = (
        load(spark, sf_dir, "events")
        .withColumn(
            "tags",
            F.array(
                F.col("event_type"),
                F.concat(
                    F.lit("b"),
                    F.floor(F.col("value") / 100)
                    .cast("int").cast("string"),
                ),
            ),
        )
        .withColumn(
            "req", ((F.col("event_id") % F.lit(2)) + F.lit(1)).cast("int")
        )
    )
    return search(
        ev,
        {
            "query": {"terms_set": {"tags": {
                "terms": ["click", "error", "b2"],
                "minimum_should_match_field": "req",
            }}},
            "sort": [{"event_id": "asc"}],
            "size": 120,
            "_source": ["event_id", "event_type", "value", "req"],
        },
    )


def q_es_combined_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``combined_fields`` + ``rank_feature`` + ``distance_feature``
    (round 16, PARITY #37): the term-centric multi-field match —
    'src3' only exists in the source field, 'merge'/'window' in the
    text, so the minimum_should_match=2 fold genuinely crosses
    fields — with the two scoring features reduced to their exact
    exists() filter meaning over a synthetic indexed_at date."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "indexed_at",
        F.timestamp_millis(
            F.lit(1704067200000)
            + (F.col("doc_id") % F.lit(90)) * F.lit(86400000)
        ),
    ).withColumn(
        "n_chars_opt",
        F.when(F.col("doc_id") % F.lit(7) != 0, F.col("n_chars")),
    )
    return search(
        docs,
        {
            "query": {"bool": {
                "must": [{"combined_fields": {
                    "query": "merge src3 window",
                    "fields": ["text", "source^2"],
                    "minimum_should_match": 2,
                }}],
                "filter": [
                    {"rank_feature": {"field": "n_chars_opt",
                                      "saturation": {"pivot": 100}}},
                    {"distance_feature": {"field": "indexed_at",
                                          "pivot": "7d",
                                          "origin": "2024-02-01T00:00:00Z"}},
                ],
            }},
            "sort": [{"doc_id": "asc"}],
            "size": 200,
            "_source": ["doc_id", "source", "n_chars"],
        },
    )


def q_es_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``terms`` lookup form (round 16, PARITY #38): the VIP-list
    pattern — the membership array lives in a doc of ANOTHER index
    (here a segments rollup of nation), fetched once (bounded 1-doc
    collect, ES's own GET) and rewritten to a literal terms query
    before compilation."""
    segments = (
        load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.collect_list("n_nationkey").alias("members"))
    )
    cust = load(spark, sf_dir, "customer")
    return search(
        cust,
        {
            "query": {"terms": {"c_nationkey": {
                "index": "segments",
                "id": 1,
                "id_field": "n_regionkey",
                "path": "members",
            }}},
            "sort": [{"c_custkey": "asc"}],
            "size": 150,
            "_source": ["c_custkey", "c_nationkey", "c_acctbal"],
        },
        lookups={"segments": segments},
    )


def q_es_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``intervals`` query (round 16 + round 17 extension, PARITY
    #39): an ordered max_gaps match ('fast … table' within 2 gaps —
    the span_near greedy reading) AND an ordered ``all_of`` ('slow'
    then 'scan' with between-interval gap ≤ 10 — the round-17 chain
    composition, load-bearing: it halves the must set) as the
    musts, plus an any_of of prefix/wildcard leaves as a counted
    should."""
    # fan_out: the positional-chain expressions otherwise run in the
    # single-split scan task (measured 1t/0.36 s)
    docs = fan_out(
        load(spark, sf_dir, "documents"), "doc_id", "text", "n_chars"
    )
    return search(
        docs,
        {
            "query": {"bool": {
                "must": [
                    {"intervals": {"text": {"match": {
                        "query": "fast table",
                        "ordered": True,
                        "max_gaps": 2,
                    }}}},
                    {"intervals": {"text": {"all_of": {
                        "intervals": [
                            {"match": {"query": "slow"}},
                            {"match": {"query": "scan"}},
                        ],
                        "ordered": True,
                        "max_gaps": 10,
                    }}}},
                ],
                "should": [{"intervals": {"text": {"any_of": {
                    "intervals": [
                        {"prefix": {"prefix": "wind"}},
                        {"wildcard": {"pattern": "mer?e"}},
                    ],
                }}}}],
                "minimum_should_match": 1,
            }},
            "sort": [{"doc_id": "asc"}],
            "size": 120,
            "_source": ["doc_id", "n_chars"],
        },
    )


def q_es_span_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span query family (round 16 + round 17 extension, PARITY
    #41): an ordered span_near within slop 2 plus a span_not (a
    'fast' occurrence whose post-2 dilation overlaps no 'slow'
    span) as the musts, a span_first + a span_or + a
    span_containing (the fast→table chain containing a 'scan') as
    a counted should."""
    # fan_out: span position chains are the per-row hot path
    # (measured 1t/0.59 s in the starved scan stage)
    docs = fan_out(
        load(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )
    chain = {"span_near": {
        "clauses": [
            {"span_term": {"text": "fast"}},
            {"span_term": {"text": "table"}},
        ],
        "slop": 2,
        "in_order": True,
    }}
    return search(
        docs,
        {
            "query": {"bool": {
                "must": [
                    chain,
                    {"span_not": {
                        "include": {"span_term": {"text": "fast"}},
                        "exclude": {"span_term": {"text": "slow"}},
                        "post": 2,
                    }},
                ],
                "should": [
                    {"span_first": {
                        "match": {"span_term": {"text": "merge"}},
                        "end": 5,
                    }},
                    {"span_or": {"clauses": [
                        {"span_term": {"text": "window"}},
                        {"span_term": {"text": "vector"}},
                    ]}},
                    {"span_containing": {
                        "big": chain,
                        "little": {"span_term": {"text": "scan"}},
                    }},
                ],
                "minimum_should_match": 1,
            }},
            "sort": [{"doc_id": "asc"}],
            "size": 150,
            "_source": ["doc_id", "lang"],
        },
    )


def q_es_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_grid`` query (round 16): the map-click filter — docs
    whose point falls in Web-Mercator tile 2/2/1, the SAME key tree
    as the geotile_grid agg (agg ≡ query pinned in pytest; the
    geohash arm is pytest-pinned too)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return search(
        ev,
        {
            "query": {"geo_grid": {"loc": {"geotile": "2/2/1"}}},
            "sort": [{"event_id": "asc"}],
            "size": 150,
            "_source": ["event_id", "value"],
        },
    )


def q_es_match_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match + fuzziness (round 16): both misspelled query terms
    must fuzzy-match some doc token within AUTO edits (len-4 terms
    → 1 edit) — the search-box typo shape."""
    docs = load(spark, sf_dir, "documents")
    return search(
        docs,
        {
            "query": {"match": {"text": {
                "query": "merg tabl",
                "operator": "and",
                "fuzziness": "AUTO",
            }}},
            "sort": [{"doc_id": "asc"}],
            "size": 150,
            "_source": ["doc_id", "lang"],
        },
    )


def q_es_composite_geotile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite ``geotile_grid`` source (round 15, VERDICT r14 Next
    #8 — the map-tile walk): page 2 of the zoom-6 tile space over
    the same synthesized coordinates as es_geotile_grid, keys
    IDENTICAL to the geotile_grid agg's (the one `_Level.key_expr`),
    the after cursor a tile-key string under the composite's
    lexicographic key order."""
    ev = load(spark, sf_dir, "events").withColumn(
        "loc",
        F.struct(
            (F.col("value") / F.lit(10.0) - F.lit(24.5)).alias("lat"),
            (
                (F.col("event_id") % F.lit(360)) - F.lit(180) + F.lit(0.5)
            ).cast("double").alias("lon"),
        ),
    )
    return composite_agg(
        ev,
        sources=[
            {"tile": {"geotile_grid": {"field": "loc", "precision": 6}}},
        ],
        size=12,
        after={"tile": "6/17/31"},
        metrics={"avg_v": {"avg": {"field": "value"}}},
    )


def search_count(
    df: DataFrame, request: dict, lookups: dict | None = None
) -> DataFrame:
    """The ES ``_count`` API (and the ``size: 0, track_total_hits:
    true`` request shape — round 15): how many documents match the
    query, as a one-row ``(total long)`` frame. One scan, one
    partial+final count — no sort, no pagination machinery. Keys
    other than ``query`` raise (the _count API accepts only a
    query)."""
    # unconditional (ADVICE r16): resolve_terms_lookups itself raises
    # the loud "pass the table via the lookups= kwarg" when a LOOKUP
    # body appears and lookups is None — guarding on the kwarg here
    # let an un-resolved lookup dict fall through to the terms arm as
    # a silent no-match over the dict's key names.
    request = resolve_terms_lookups(request, lookups)
    extra = set(request) - {"query"}
    if extra:
        raise ValueError(
            f"_count request accepts only 'query', got {sorted(extra)}"
        )
    return df.filter(compile_query(request.get("query"))).agg(
        F.count(F.lit(1)).alias("total")
    )


def q_es_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle row (round 15): the _count API over a bool query
    mixing the round's compound wrappers — one scan, one count."""
    ev = load(spark, sf_dir, "events")
    return search_count(
        ev,
        {"query": {"bool": {
            "must": [{"dis_max": {"queries": [
                {"term": {"event_type": "view"}},
                {"fuzzy": {"event_type": {"value": "clack"}}},
            ]}}],
            "must_not": [{"range": {"value": {"lt": 5}}}],
        }}},
    )
