"""Every declared + demoted query's physical plan must stay free of
scale anti-patterns (CartesianProduct, row-at-a-time Python UDFs,
unapproved nested-loop joins) — the regression gate behind PLANS.md.

Plan compilation only: queries whose construction itself executes
(eager checkpoints / index builds) do run some jobs, but nothing is
collected."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from dump_es_parquet_spark.plan_lint import lint_plan

QUERIES = {**entry.queries(), **entry.demoted_queries()}

#: queries whose BroadcastNestedLoopJoin is the benign 1-row-broadcast
#: shape (scalar subquery / query vector / threshold scalar) — audited
#: in PLANS.md and VERDICT r05's anti-pattern review. Adding a name
#: here requires the same audit.
BNLJ_ALLOWED = frozenset(
    {
        # root significant_terms joins the 1-ROW sizes frame back
        # onto the term counts — the audited 1-row-broadcast family
        "es_significant_terms",
        # per-bucket significant_terms: the same 1-ROW index-size
        # frame cross-joined onto the (parent, term) counts
        "es_significant_terms_per_bucket",
        "sim_ann_hyperplane",
        "sim_ann_ivf_indexed",
        "sim_ann_ivf_sq8",
        "sim_ann_ivf_pq",  # same 1-row query-vector broadcast family
        "sim_ann_ivf",
        "sim_topk_batch",
        "sim_topk_bruteforce",
        "sim_ann_lsh",
        "q11_important_parts",
        "q22_idle_customers",
        "setops",
        "corpus_temperature",
        "corpus_dedup",
        "corpus_curriculum",
        "corpus_triplets",
        "privacy_k_anonymity",  # 1-row totals frame cross-joined
        "sketch_error_bounds",  # chain of 1-row estimate/exact frames
        "corpus_decontaminate_bloom",  # 1-row bloom-bitmap broadcast
        "sim_ivf_recall",  # query-batch broadcast (same shape as sim_topk_batch)
        "corpus_hybrid_rrf",  # 1-row query-vector broadcast (cosine arm)
        "es_retriever_rrf",  # the same fusion plan behind the request dialect
        "corpus_significant_terms",  # 1-row fg/corpus-sizes broadcast
        "es_significant_text",  # the same operator behind the request shape
        # apriori's frequent-singleton SET is one collected row
        # cross-joined onto the basket frame for the prune — the
        # same 1-row-broadcast family
        "es_frequent_item_sets",
        # the background_filter variant joins the same 1-ROW sizes
        # frame as its parent row
        "es_significant_terms_bgfilter",
        # the four-heuristic union (round 14): the SAME audited 1-row
        # sizes broadcast, once per unioned heuristic branch
        "es_significant_heuristics",
    }
)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_is_scale_clean(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    findings = lint_plan(df, allow_bnlj=name in BNLJ_ALLOWED)
    assert not findings, f"{name}: {findings}"


def test_lint_catches_antipatterns(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    # a broadcastable side plans BNLJ, not CartesianProduct — disable
    # auto-broadcast to produce the real thing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = a.crossJoin(b)
        assert any("CartesianProduct" in f for f in lint_plan(cart))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    bnlj = a.join(b, F.col("id") > F.col("id2"))
    assert any("NestedLoop" in f for f in lint_plan(bnlj))
    assert lint_plan(bnlj, allow_bnlj=True) == []

    slow = a.select(F.udf(lambda x: x + 1, LongType())("id"))
    assert any("BatchEvalPython" in f for f in lint_plan(slow))


def test_read_schema_width_counts_nested_types():
    """The wide-scan rule must count TOP-LEVEL columns through nested
    struct/array/map brackets — a non-greedy regex stops at the first
    '>' and undercounts (ADVICE r06)."""
    from dump_es_parquet_spark.plan_lint import _read_schema_widths

    plan = (
        "FileScan parquet [a,b,c] ... "
        "ReadSchema: struct<a:struct<x:int,y:array<string>>,"
        "b:map<string,struct<p:int,q:int>>,c:bigint>\n"
        "FileScan parquet [k] ... ReadSchema: struct<k:int>\n"
        "FileScan parquet [] ... ReadSchema: struct<>\n"
        "FileScan parquet [p,q] ... "
        "ReadSchema: struct<p:decimal(12,2),q:decimal(12,2)>"
    )
    assert _read_schema_widths(plan) == [3, 1, 0, 2]


#: Pinned shuffle/join-shape fingerprints for the most expensive
#: queries (top of BENCH_local_r6 + both dedup/packing families).
#: The lint gate catches categorical anti-patterns; these catch
#: gradual drift — a refactor that adds an avoidable Exchange or
#: demotes a broadcast join to SMJ fails HERE with a diff instead of
#: surfacing as an unexplained bench slowdown two rounds later.
#: Values are the plan shape at sf0.001 / local[8] / 8 shuffle
#: partitions (the conftest environment); a legitimate plan
#: improvement updates the pin in the same commit that changes it.
PINNED_FINGERPRINTS = {
    # "exchange" counts SHUFFLE exchanges only (BroadcastExchange and
    # ReusedExchange excluded — see plan_lint.FINGERPRINT_OPS)
    "corpus_dedup": {"exchange": 5, "bhj": 2, "bnlj": 2},  # r18: arrow local frames broadcast
    "sim_knn_graph": {"exchange": 3},  # r18: rescore joins gone (in-task exact sims)
    "corpus_triplets": {"exchange": 7, "bhj": 5, "bnlj": 1},
    "split_contamination": {"exchange": 5, "bhj": 7},
    "dedup_ngram_jaccard": {"exchange": 5, "bhj": 5},
    # round-9: +1 exchange (map-side-combined bucket-size agg, volume
    # ≈ #buckets) and +1 bhj (broadcast of the — typically empty —
    # oversized-bucket stats) from the degenerate-bucket guard
    # (VERDICT r08 Next #3)
    "dedup_simhash": {"exchange": 3, "bhj": 2},
    # r17: +1 exchange — the _par keyed repartition that keeps the
    # CPU-dense shingle/md5 stage off the single-split scan task
    "dedup_minhash_lsh": {"exchange": 4, "bhj": 2},
    "corpus_packing": {"exchange": 2, "bhj": 1},
    "q21_waiting_supplier_shape": {"exchange": 7, "bhj": 3, "smj": 1},
    "q7_nation_volume": {"exchange": 2, "bhj": 5},
    # NOT sim_ann_ivf: its in-query Lloyd pipeline calls .cache(), and
    # the compiled shape depends on whether an earlier test already
    # materialized that cache entry — pin the declared serving path
    # instead (reads the materialized index; ZERO shuffles, exactly
    # the partition-pruned serving design).
    "sim_ann_ivf_indexed": {"bnlj": 1},
    "corpus_mix": {"exchange": 2, "bhj": 2},
    "q18_large_volume": {"exchange": 1, "bhj": 2},
    "q8_market_share": {"exchange": 2, "bhj": 7},
    # round-8 pins: the promoted verification queries are now in the
    # top-10 by bench cost (VERDICT r07 Next #5). corpus_dup_clusters
    # reads the shared signature store (no signature-chain stages);
    # fingerprints run against a warm store, which is deterministic
    # because the store build happens at query-construction time.
    "corpus_dup_clusters": {"exchange": 3, "bhj": 1},  # r18: arrow local frames broadcast
    "corpus_dedup_incremental": {"exchange": 7, "bhj": 4, "smj": 2},
    # round-8 improvement: k_eff and n_hits come from one left-join
    # aggregate, so the brute-force ground truth is planned once
    "sim_ivf_recall": {"exchange": 8, "bhj": 1, "smj": 1, "bnlj": 3},
    # sketch_error_bounds is a chain of 1-row estimate/exact frames —
    # the bnlj count is the audited 1-row-broadcast family, and the
    # exchanges are single-row aggregations, not data shuffles. The
    # round-8 explode-unpivot keeps the sketch pipeline in the plan
    # ONCE (the per-metric union form measured exchange=36).
    "sketch_error_bounds": {"exchange": 14, "bhj": 1, "bnlj": 7},
    # round-9 pins: the promoted retrieval/multimodal/decontamination
    # surface (VERDICT r08 Next #1/#7). corpus_bm25's empty
    # fingerprint IS the selling point — the scoring pass is a pure
    # projection + TakeOrderedAndProject, zero shuffles, zero joins
    # (the df/N stats pass is a separate bounded-collect job).
    "corpus_bm25": {},
    # the single exchange is the oracle-determinism orderBy(doc_id) —
    # the occurrence-count scan itself is shuffle-free
    "corpus_match_phrase": {"exchange": 1},
    # top-k broadcast back over one extra corpus scan + final sort
    "corpus_highlight": {"exchange": 1, "bhj": 1},
    "mm_binary_clusters": {"exchange": 1, "bhj": 3},  # r18: arrow label map broadcasts
    "corpus_decontaminate_bloom": {"exchange": 7, "bhj": 2, "bnlj": 1},
    # round-9 second swap: the promoted ES _search compiler heads.
    # es_search_hits' empty fingerprint is the point — filter + global
    # top-k plans as scan → TakeOrderedAndProject, zero shuffles.
    # es_aggs_tree: 2 data-sized exchanges (rollup + the exact-
    # cardinality distinct phase) + 2 bucket-frame exchanges (rank /
    # ancestor windows); the single-branch window form is pinned so a
    # regression to per-level scans (3 scans / 14 exchanges, measured)
    # fails CI. es_pipeline_aggs adds one pipeline-window exchange.
    # es_query_string: the one exchange is the oracle-determinism
    # orderBy(event_id); the parsed predicate itself is a pure scan.
    "es_search_hits": {},
    "es_aggs_tree": {"exchange": 4},
    "es_pipeline_aggs": {"exchange": 5},
    "es_query_string": {"exchange": 1},
    # round-10 pins: the promoted round-9 serving paths (VERDICT r09
    # Next #7) and the round-10 additions.
    # corpus_bm25_served: the postings-store serving path — one
    # broadcast of the (tiny) per-term stats onto the row-group-pruned
    # postings read; the exchange is the score aggregation keyed on
    # doc (volume = matching postings, never the corpus).
    "corpus_bm25_served": {"exchange": 1, "bhj": 1},
    # es_transform_pivot: the entity-centric batch pivot — ONE
    # data-sized groupBy exchange + the oracle-determinism orderBy.
    "es_transform_pivot": {"exchange": 2},
    # es_percolate: the zero-shuffle claim — N stored queries as one
    # projection pass; the single exchange is the oracle-determinism
    # orderBy, the match scan itself is shuffle-free.
    "es_percolate": {"exchange": 1},
    # corpus_span_near: zero-shuffle greedy span scan (position arrays
    # bound once per row, r09 What's wrong #1); the exchange is the
    # oracle-determinism orderBy(doc_id).
    "corpus_span_near": {"exchange": 1},
    # corpus_more_like_this: two linear scans (term selection, then
    # BM25), both shuffle-free — the empty fingerprint is the point.
    "corpus_more_like_this": {},
    # round-10 rows: gap-filling stays bucket-frame-shaped (rollup +
    # distinct-cardinality + the gap windows — same class as
    # es_aggs_tree); the knn IVF recall row is pure probe + rescore +
    # one broadcast join of ANN hits onto the exact top-k (ZERO
    # shuffle exchanges); the standard-analyzer BM25 keeps
    # corpus_bm25's empty fingerprint — the analyzer changes the
    # tokenizer expression, never the plan shape.
    "es_date_histogram_gapfill": {"exchange": 3},  # -1 r18 trivial-anc skip
    # month grid steps by INTERVAL-1-MONTH sequences — date math in
    # the same windows/explode, identical plan class as the hourly
    # fill
    "es_date_histogram_gapfill_month": {"exchange": 3},  # -1 r18 trivial-anc skip
    "es_knn_search_ivf": {"bhj": 1},
    "corpus_bm25_standard": {},
    # the analyzer SPEC (stopwords + length floor) is a token-array
    # filter expression — plan shape identical to the bm25 family
    "corpus_bm25_stopwords": {},
    # the stemmer stage (round 12) is a token-array transform
    # expression — still the zero-shuffle bm25 projection plan
    "corpus_bm25_stemmed": {},
    # es_percolate_bulk (round 11 rework — VERDICT r10 What's wrong
    # #1): the rule frame and its merged intervals are PERSISTED, so
    # the channels read InMemoryTableScans instead of re-planning the
    # rule subtree; two-sided range rules take the binned (field,
    # bin) equi-join (3 of the bhj: widths onto melt, intervals onto
    # points, totals), string-eq rules the (field, value) equi-join.
    # The melt is ONE stack generator — literal-projection unions
    # constant-fold the field key and degrade the rule joins to BNLJ
    # (measured). Exchanges: the satisfied-count groupBy (the one
    # data-sized shuffle), the widths/merged rule-frame aggs, and the
    # oracle-determinism orderBy.
    # +2 exchanges round 17: the parallelism-starved doc scan (one
    # row-group at test scale) is fanned out with ONE keyless
    # round-robin repartition; the static plan prints it once per
    # melt consumer, but at runtime AQE exchange reuse collapses
    # them to a single shuffle (and at production scale the scan
    # already has >= defaultParallelism splits, so the repartition
    # is not inserted at all).
    "es_percolate_bulk": {"exchange": 4, "bhj": 5},  # r18: rule stats driver-side
    # one rollup + two bucket-frame window exchanges; offset/missing
    # only change key expressions, never the plan class
    "es_terms_missing_offset": {"exchange": 3},
    # corpus_rank_eval: one bm25_topk_batch core (postings explode
    # after the broadcast term semi-join) + metric joins over frames
    # bounded by |queries|·k and the qrel size — the smj pair is the
    # ranked⋈qrel / ideal side, both judgment-sized
    "corpus_rank_eval": {"exchange": 7, "bhj": 8, "smj": 1},  # r18: arrow local frames broadcast
    # composite over (date_histogram × terms) sources: the after-key
    # filter lands before the ONE groupBy exchange — a later page
    # never re-aggregates earlier key ranges
    "es_composite_datehist": {"exchange": 1},
    # filter → TakeOrdered → pure string-splice projection: the empty
    # fingerprint is the point (highlight adds zero plan weight)
    "es_search_highlight": {},
    # geo predicates are plain double-math filters on the scan —
    # scan → TakeOrderedAndProject, zero shuffles, zero joins
    "es_geo_queries": {},
    # nested query: exists() higher-order predicates are plain
    # filters on the scan → TakeOrderedAndProject; the empty
    # fingerprint is the point (same-object semantics add zero
    # plan weight)
    "es_nested_query": {},
    # match inside nested scope (round 12): the analyzer tokenizes
    # the struct element inside the same exists() lambda — still a
    # pure filter on the scan, zero shuffles
    "es_nested_match": {},
    # geohash_grid: the bit-interleave is a pure projection — one
    # rollup + the survival-window exchange + the oracle orderBy,
    # the same bucket-frame class as every other agg tree
    "es_geohash_grid": {"exchange": 3},  # +1 r17 fan_out, -1 r18 trivial-anc skip
    # geotile: same pure-projection bucket class as geohash
    "es_geotile_grid": {"exchange": 3},  # +1 r17 fan_out, -1 r18 trivial-anc skip
    # nested agg: one explode (Generate) before the same rollup +
    # window + orderBy class — the re-basing adds no exchange
    "es_nested_agg": {"exchange": 3},
    # non-root nested + reverse_nested (round 12): the posexplode
    # Generate still adds no exchange; reverse_nested's exact
    # distinct-parent count adds the unavoidable two-phase distinct
    # exchanges on top of the rollup + window class (same family as
    # an exact cardinality metric)
    "es_reverse_nested": {"exchange": 5},
    # multi_terms + rare_terms (round 12): composite-key terms and
    # the doc_count-ceiling variant are pure key-expression /
    # pruning-condition changes — the same one-rollup + window
    # bucket-frame class (rollup + rank/survival windows + orderBy)
    "es_multi_rare_terms": {"exchange": 4},
    # overlapping ranges (round 12): the multi-membership explode is
    # one Generate on the scan side — no extra exchange over the
    # one-rollup bucket-frame class
    "es_range_overlap": {"exchange": 4},
    # positional pipelines over the gap-filled grid (round 12): the
    # deferred moving_fn/serial_diff windows re-partition the FILLED
    # bucket frame once — still the bucket-frame exchange class of
    # the plain gapfill row (4 = rollup + distinct-cardinality +
    # gap/pipeline windows + orderBy)
    "es_gapfill_moving_fn": {"exchange": 3},  # -1 r18 trivial-anc skip
    # the widened MovingFunctions set (round 13): collected-array
    # folds are plain window/projection expressions — same class
    "es_moving_fn_extended": {"exchange": 3},  # -1 r18 trivial-anc skip
    # non-root filters (round 12): the multi-membership explode is
    # one scan-side Generate — same one-rollup bucket-frame class
    "es_filters_under_terms": {"exchange": 4},
    # terms include/exclude (round 12): a key-expression WHEN wrap —
    # same one-rollup bucket-frame class
    "es_terms_include_exclude": {"exchange": 4},
    # terms include {partition, num_partitions} (round 14): the md5
    # hash-mod filter is one more key-expression wrap — same
    # one-rollup bucket-frame class, no extra shuffle
    "es_terms_partition": {"exchange": 4},
    # top_hits under a non-leaf bucket (round 14): the union of the
    # regular bucket plan (the agg-tree class) and the doc half's
    # count/prune/rank windows; the 2 bhj are the kept-bucket and
    # survivor semi-join broadcasts — both bucket-frame-sized
    "es_top_hits_nonleaf": {"exchange": 9, "bhj": 2},
    # the four-heuristic significance union (round 14): the root
    # flag-column plan x4 — per-branch word-count groupBy + top-k
    # sort, the audited 1-row sizes bnlj each
    "es_significant_heuristics": {"exchange": 8, "bnlj": 4},
    # categorize_text (round 14): the skeleton is a key expression —
    # the one-rollup bucket-frame class
    "es_categorize_text": {"exchange": 5},  # +1 r17 fan_out
    # composite missing_bucket (round 14): the null-aware cursor is
    # a scan filter — one groupBy exchange + TakeOrdered, the
    # composite page class
    "es_composite_missing": {"exchange": 1},
    # nested-inside-nested aggregation (round 14): TWO scan-side
    # Generates feed the same one-rollup bucket-frame class — no
    # extra shuffle over the single-nested rows
    "es_nested_inside_nested": {"exchange": 5},  # +1 r17 fan_out
    # has_parent + inner_hits (round 14): ONE equi-join of the
    # filtered parent projection (broadcast at this SF) + the
    # presentation sort
    "es_has_parent_inner_hits": {"exchange": 1, "bhj": 1},
    # has_child + inner_hits (round 14): the filter form's counts
    # groupBy + equi-join (broadcast at this SF), the matched-parent
    # key semi-join, and the per-parent rank window — no global sort
    "es_has_child_inner_hits": {"exchange": 3, "bhj": 2},
    # rate under an IANA time_zone (round 14): the tzdb key + local
    # day-count divisor are plain expressions in the one rollup —
    # the agg-tree class
    "es_rate_iana": {"exchange": 4},
    # geo_shape polygon + envelope (round 14): the ray-cast is a
    # fixed expression tree on the scan, the page a TakeOrdered —
    # the empty fingerprint IS the point (zero shuffles)
    "es_geo_shape": {},
    # phrase suggester (round 15 rewrite — the r14 `weak` fix): TWO
    # bounded Spark actions at plan-build time (the position-tagged
    # candidate collect carrying the corpus total, and the
    # candidate-pair-filtered bigram collect — both rule-frame
    # class); the returned ORACLE-ROW plan is a pure driver-scored
    # literal page (combination count ≤ product_cap), so the empty
    # fingerprint IS the point — inputs beyond the cap take the
    # Viterbi beam (one BHJ + one tiny window per position), pinned
    # by test_phrase_suggest_beam_equals_product with product_cap=1
    "es_suggest_phrase": {},
    # date_histogram time_zone (round 12): a shifted key expression +
    # the same gapfill windows — same bucket-frame exchange class as
    # the other gapfill rows
    "es_date_histogram_tz": {"exchange": 3},  # -1 r18 trivial-anc skip
    # boxplot + derivative unit (round 13): quartiles are plain
    # aggregate expressions in the one rollup, the normalized
    # column one more lag over the same window — the agg-tree class
    "es_boxplot_derivative_unit": {"exchange": 3},  # -1 r18 trivial-anc skip
    # rate + median_absolute_deviation (round 13): plain aggregate
    # expressions (the MAD collect included) in the one rollup —
    # no pipelines, so one window pass fewer than the 4-exchange
    # agg-tree rows
    "es_rate_mad": {"exchange": 2},  # -1 r18 trivial-anc skip
    # percentiles_bucket + extended_stats_bucket (round 13): window
    # aggregates over the shared key-prefix partition — the
    # stats_bucket sibling-pipe class, same bucket-frame exchanges
    "es_bucket_summaries": {"exchange": 4},
    # moving_percentiles (round 13): the hidden value arrays ride
    # the one rollup; merge+sort is a bucket-frame window — the
    # gapfill-pipeline exchange class
    "es_moving_percentiles": {"exchange": 3},  # -1 r18 trivial-anc skip
    # global (round 13): the sub-tree over the unfiltered scan —
    # the plain agg-tree class
    "es_global_agg": {"exchange": 4},
    # string_stats show_distribution (round 13): the entropy path's
    # char-histogram groupBy + the parent-rank frame broadcast back
    "es_string_stats_distribution": {"exchange": 4, "bhj": 1},
    # latest transform (round 13): one struct-max groupBy (partial
    # agg on the map side) + the presentation sort — never a
    # raw-data window sort
    "es_transform_latest": {"exchange": 2},
    # join-field family (round 13): has_child = one pre-aggregated
    # counts groupBy + one equi-join (broadcast at this SF; the
    # counts frame is one row per parent KEY, never raw children);
    # has_parent = a semi-join against the filtered key projection;
    # children_agg = two bucket aggregates + the child→parent-key
    # equi-join (SMJ — both sides data-sized at scale, the right
    # shape) + the bucket-frame join
    "es_has_child": {"exchange": 2, "bhj": 1},
    "es_has_parent": {"exchange": 1, "bhj": 1},
    "es_children_agg": {"exchange": 4, "bhj": 1, "smj": 1},
    # reverse_nested sub-aggs (round 13): the agg-tree class + ONE
    # raw-data window for the per-(bucket, parent) representative
    # mask (added only when sub-aggs are requested)
    "es_reverse_nested_aggs": {"exchange": 5},
    # frequent_item_sets (round 13): basket groupBy + the level
    # groupBys over the persisted basket frame (the singleton-set
    # 1-row bnlj lives inside the cached build plan, which the tree
    # walk counts once at build, not per consumer)
    "es_frequent_item_sets": {"exchange": 2},
    # significant_terms background_filter (round 13): the parent
    # row's one-scan flag-column plan, one more flag — same shape
    "es_significant_terms_bgfilter": {"exchange": 2, "bnlj": 1},
    # cumulative_cardinality (round 13): the regular gap-filled
    # frame + one groupBy(value) first-bucket pass + its bucket-
    # frame count, broadcast back; running sum is a bucket-frame
    # window
    "es_cumulative_cardinality": {"exchange": 6, "bhj": 1},  # -1 r18 trivial-anc skip
    # significant_text (round 13): the corpus significant_terms
    # plan behind the request shape — word-count groupBy + top-k
    # sort, 1-row sizes bnlj
    "es_significant_text": {"exchange": 2, "bnlj": 1},
    # string_stats entropy (round 13): stats groupBy + the
    # char-histogram groupBy, entropy frame broadcast back (bhj)
    "es_string_stats_entropy": {"exchange": 3, "bhj": 1},
    # diversified_sampler (round 13): the per-user cap window + the
    # global TakeOrdered sample feed the usual bucket rollup — one
    # extra exchange over the agg-tree class
    "es_diversified_sampler": {"exchange": 5},
    # normalize z-score + softmax-over-z (round 13): moment windows
    # + the temp exp projection share the level partition — same
    # bucket-frame class as the other pipeline rows
    "es_normalize_zscore": {"exchange": 3},  # -1 r18 trivial-anc skip
    # match_phrase percolate rules (round 13): the phrase channel's
    # longest-token candidate join + the must_not kill channel ride
    # rule-frame broadcasts (12 bhj across validation/channel/total
    # consumers of the persisted conjunct frame); exchanges are the
    # melt/groupBy/orderBy class, O(1) in rules
    # +6 exchanges round 17: the doc-side round-robin fan-out of the
    # single-split test scan prints once per channel consumer in the
    # static plan (phrase has more doc consumers than bulk); runtime
    # AQE exchange reuse executes ONE shuffle (verified: phrase wall
    # 2.8-4.1s -> 2.1-2.4s at sf0.1), and at scale the repartition
    # is skipped entirely (scan splits >= defaultParallelism).
    "es_percolate_phrase": {"exchange": 9, "bhj": 12},  # r18: rule stats driver-side
    # nested inner_hits (round 13): a TakeOrdered page + an
    # index-keeping transform/filter projection + one explode — no
    # exchange at all
    "es_nested_inner_hits": {},
    # date_histogram under an IANA time_zone (round 13): tzdb key
    # expression + local-wall gapfill sequences — still a fixed JVM
    # expression tree, same bucket-frame class as the other gapfills
    "es_date_histogram_tz_iana": {"exchange": 3},  # -1 r18 trivial-anc skip
    # adjacency_matrix (round 12): the pair-intersection explode is
    # one Generate on the scan — one rollup + survival window +
    # orderBy, the standard bucket-frame class
    "es_adjacency_matrix": {"exchange": 2},  # -1 r18 trivial-anc skip
    # geo_bounds + string_stats (round 12): plain aggregate
    # expressions in the one rollup — standard bucket-frame class
    "es_geo_bounds_string_stats": {"exchange": 4},
    # matrix_stats (round 12): pair moments are plain aggregate
    # expressions in the one rollup — standard bucket-frame class
    "es_matrix_stats": {"exchange": 4},
    # bucket_selector + normalize (round 12): one extra bucket-frame
    # window exchange (the whole-level normalize partition) over the
    # rollup + survival + orderBy class
    "es_bucket_selector": {"exchange": 4},  # -1 r18 trivial-anc skip
    # root significant_terms (round 12): one flag-column groupBy
    # exchange + the top-k sort; the bnlj is the audited 1-row
    # sizes broadcast (the corpus twin's family)
    "es_significant_terms": {"exchange": 2, "bnlj": 1},
    # per-bucket significant_terms (round 13): two word-count
    # groupBys (global bg + per-parent fg) + the parent-sizes rank
    # and per-bucket rank windows + orderBy; parent sizes and the
    # 1-row index size ride broadcasts (2 bhj + the audited bnlj)
    "es_significant_terms_per_bucket": {
        "exchange": 6, "bhj": 2, "bnlj": 1
    },
    # geo_distance rings: haversine CASE chain is a pure projection —
    # same bucket-frame class
    "es_geo_distance_rings": {"exchange": 2},  # -1 r18 trivial-anc skip
    # auto_date_histogram: the interval choice happens at plan-build
    # time (one bounded min/max collect); the plan itself IS a plain
    # date_histogram tree
    "es_auto_date_histogram": {"exchange": 2},  # -1 r18 trivial-anc skip
    # missing → date_range chain: same bucket-frame class as the
    # other agg trees (rollup + two window exchanges)
    "es_filter_missing_range": {"exchange": 2},  # -1 r18 trivial-anc skip
    # weighted_avg/top_metrics are plain aggregate expressions in the
    # one rollup — same exchange class as es_aggs_tree
    "es_metric_variants": {"exchange": 4},
    "es_extended_stats": {"exchange": 4},
    # — round 15 dialect rows —
    # compound wrappers / simple_query_string / the prefix matches /
    # terms_set reduce to plain Catalyst filters on the scan + a
    # TakeOrdered page: the empty fingerprint IS the point (zero
    # shuffles — the query-DSL class)
    "es_compound_filter": {},
    # function_score/script_score reduce to their inner queries —
    # the same scan+filter+TakeOrdered shape as es_compound_filter
    "es_function_score": {},
    "es_simple_query_string": {},
    "es_match_prefix": {},
    "es_terms_set": {},
    # ip_range: the octet-split key + CIDR filter are plain
    # expressions in the one rollup — the agg-tree class minus the
    # pipeline window
    "es_ip_range": {"exchange": 3},  # +1 r17 fan_out, -1 r18 trivial-anc skip
    # composite geotile source: one groupBy over the tile key with
    # the after filter below it — the composite page class
    "es_composite_geotile": {"exchange": 1},
    # the _count API (round 15): one scan, one partial+final count
    # — a single exchange carrying one row per task
    "es_count": {"exchange": 1},
    # ES|QL (round 15): the dashboard rollup is scan → filter →
    # EVAL expressions → ONE groupBy + the final sort; the token
    # pipeline is scan → explode → filter → one groupBy (TakeOrdered
    # page) — both the plans the equivalent hand-written DataFrame
    # code would produce (the compiler adds nothing)
    "esql_events_rollup": {"exchange": 2},
    "esql_docs_tokens": {"exchange": 1},
    # — round 16 —
    # LOOKUP JOIN + ENRICH: TWO BroadcastHashJoins (the dimension
    # tables ride broadcasts — zero shuffle on the fact side; the
    # ENRICH duplicate-key validation happens at plan-build time) +
    # the STATS rollup and final sort
    "esql_lookup_enrich": {"exchange": 2, "bhj": 2},
    # ip_prefix: the subnet key is a pure octet-arithmetic projection
    # — the agg-tree class (rollup + the two frame windows)
    "es_ip_prefix": {"exchange": 3},  # +1 r17 fan_out, -1 r18 trivial-anc skip
    # random_sampler: the sample predicate is a plain md5 filter ON
    # THE SCAN (no pre-shuffle); the sub-tree is the agg-tree class +
    # the scaled-doc_count projection
    "es_random_sampler": {"exchange": 5},  # +1 r17 fan_out
    # SAMPLE = a plain hash filter before the STATS rollup — one
    # partial-agg shuffle, the sample itself shuffles nothing
    "esql_sample": {"exchange": 1},
    # combined_fields + the feature-query exists() reductions are
    # plain Catalyst filters + a TakeOrdered page — the zero-shuffle
    # query-DSL class
    "es_combined_features": {},
    # terms lookup: after the bounded 1-doc fetch the compiled plan
    # IS a literal terms query — zero shuffle, the pushdown-eligible
    # filter class (the fetch's groupBy runs at plan-build time)
    "es_terms_lookup": {},
    # intervals: the once-bound position-array chain is a pure
    # projection + TakeOrdered page — the zero-shuffle span class
    "es_intervals": {"exchange": 1},  # +1 r17 fan_out
    # VALUES/TOP: one groupBy (collect_set/list are partial-merge
    # aggregates) + the TakeOrdered page — the ES|QL rollup class
    "esql_values_top": {"exchange": 1},
    # span family: once-bound position chains are pure projections +
    # the TakeOrdered page — the zero-shuffle span class
    "es_span_queries": {"exchange": 1},  # +1 r17 fan_out
    # match+fuzziness: per-token levenshtein exists() is a pure
    # projection — the zero-shuffle query-DSL class
    "es_match_fuzzy": {},
    # geo_grid: key-expression equality — the zero-shuffle class
    "es_geo_grid": {},
    # ids/pinned compile to literal isin filters (no pin needed —
    # covered by the plan-lint parametrized gate)
}


@pytest.mark.parametrize("name", sorted(PINNED_FINGERPRINTS))
def test_plan_fingerprint_pinned(spark, sf_dir, name):
    from dump_es_parquet_spark.plan_lint import plan_fingerprint

    if not sf_dir.rstrip("/").endswith("sf0.001"):
        pytest.skip("fingerprints pinned at the sf0.001 test environment")
    fp = plan_fingerprint(QUERIES[name](spark, sf_dir))
    assert fp == PINNED_FINGERPRINTS[name], (
        f"{name}: plan shape drifted {PINNED_FINGERPRINTS[name]} -> {fp}; "
        "if intentional, update the pin in this commit"
    )
