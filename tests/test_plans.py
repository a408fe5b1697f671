"""Physical-plan assertions: the optimizer behaviors the 100 TB design
depends on must be visible in `.explain` output, not assumed.

These guard against regressions that stay correctness-green but destroy
scale behavior (a filter that stops pushing, a broadcast that silently
becomes a shuffle join, a projection that drags every column through)."""

from __future__ import annotations

from database_per_keyword_analysis_spark import catalog
from database_per_keyword_analysis_spark.sources import load


def _plan(spark, sf_dir, name):
    df = catalog.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_keyword_scan_pushes_notnull_and_prunes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "industry_counts")
    assert "PushedFilters: [IsNotNull(text)" in plan
    # documents has 5 columns; only text+source must be read
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read and "source" in read
    assert "n_chars" not in read and "lang" not in read and "doc_id" not in read


def test_bucketed_counts_scans_its_input_once(spark, sf_dir):
    """The zero-filled spine takes its ends from the counts, so the plan
    reads the events once and sorts its output locally, with no range
    partitioning."""
    plan = _plan(spark, sf_dir, "events_daily_counts")
    assert plan.count("FileScan parquet") == 1
    assert "rangepartitioning" not in plan


def test_pricing_summary_pushes_range_filter(spark, sf_dir):
    df = catalog.queries()["pricing_summary"](spark, sf_dir)
    df.collect()  # finalize THIS dataset's AQE plan (a write would clone it)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read  # unused column pruned
    # whole-stage codegen spans appear as *(n) markers in the final plan
    import re as _re

    assert _re.search(r"\*\(\d+\) HashAggregate", plan)


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # exactly one shuffled (fact-fact) join at most: orders⋈lineitem
    assert plan.count("SortMergeJoin") <= 1


def test_knn_broadcasts_query_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan


def test_anti_and_semi_joins_are_joins_not_subquery_loops(spark, sf_dir):
    for name, kind in [
        ("customers_without_orders", "LeftAnti"),
        ("customers_with_open_orders", "LeftSemi"),
    ]:
        assert kind in _plan(spark, sf_dir, name)


def test_quality_metrics_is_single_pass_no_shuffle(spark, sf_dir):
    # pure projection operator: no aggregation exchange (only the
    # parallelize repartition and final sort are allowed)
    df = catalog.queries()["doc_quality_metrics"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_loader_projection_reaches_scan(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey").where("l_orderkey > 100")
    plan = df._jdf.queryExecution().executedPlan().toString()
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read.count("l_") == 1  # only l_orderkey read
    assert "GreaterThan(l_orderkey,100)" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A date-partitioned fact joined to a selectively-filtered dim must
    scan ONLY the matching partitions — Catalyst's dynamic partition
    pruning injects the dim's build-side keys into the fact's partition
    filter at runtime.  At 100 TB this is the difference between reading
    one month and reading the whole table."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "orders_by_month")
    orders = load(spark, sf_dir, "orders")
    orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("month").parquet(p)
    fact = spark.read.parquet(p)
    dim = (
        fact.select("month").distinct()
        .withColumn("tag", F.substring("month", 1, 4))
    )
    joined = fact.join(dim.where(F.col("tag") == "1995"), "month").groupBy(
        "month"
    ).count()
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_top_suppliers_aggregates_before_broadcast_joins(spark, sf_dir):
    """Q15-style plan contract: shipdate filter pushed to the lineitem
    scan, partial aggregation BEFORE the only exchange (the shuffle
    carries (suppkey, partial sum), not raw lineitems), and both
    dimension joins broadcast — no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "top_suppliers_by_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # partial agg feeds the exchange: in the top-down tree string the
    # Exchange (parent) prints before the partial HashAggregate (child)
    assert "partial_sum" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index("partial_sum")
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read and "l_quantity" not in read  # pruned


def test_corpus_curation_joins_are_hash_not_cartesian(spark, sf_dir):
    """The curation assembly is equi-joins on doc_id end-to-end — a
    CartesianProduct or BroadcastNestedLoopJoin anywhere means a stage
    regressed to all-pairs."""
    plan = _plan(spark, sf_dir, "corpus_curation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_family_joins_are_equi_not_cartesian(spark, sf_dir):
    """Passage-tier candidates must come from fingerprint equi-joins
    (df-capped self-join / corpus-probe join) — a CartesianProduct or
    BroadcastNestedLoopJoin means the MOSS report stage regressed to
    all-pairs, which cannot survive 100 TB."""
    for name in ("winnowing_pairs", "decontamination_check"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_media_resize_is_single_pass_no_shuffle(spark, sf_dir):
    """Resize is one mapInPandas projection pass: no Exchange may appear
    below it (the final orderBy's range exchange is the only allowed
    shuffle in the query form)."""
    from database_per_keyword_analysis_spark.operators import multimodal as MM

    df = MM.resize_media(MM.with_media_payload(load(spark, sf_dir, "documents")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "Exchange" not in plan


def test_repetition_and_pii_are_single_pass_no_shuffle(spark, sf_dir):
    # both are pure projection operators: n-gram/regex work happens in
    # the scan stage, no aggregation exchange anywhere
    for name in ("repetition_flags", "pii_redaction"):
        df = catalog.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, name


def test_stratified_sample_has_no_cartesian_and_bounded_shuffles(spark, sf_dir):
    df = catalog.queries()["stratified_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # count agg + count join + window partition: nothing beyond 3 hash
    # exchanges (the prefilter is the point — the window sort must not
    # pull the whole stratum)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_semantic_dedup_pairs_join_is_equi_on_list_id(spark, sf_dir):
    from database_per_keyword_analysis_spark.operators import similarity as SIM
    from database_per_keyword_analysis_spark.sources import load

    # inspect the pair stage (pre-CC): the in-cluster compare must be an
    # equi-join on list_id, never a cartesian over the corpus
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = SIM.ivf_index(emb, n_lists=4)
    from pyspark.sql import functions as F

    a = assigned.select("list_id", F.col("vec_id").alias("vec_a"))
    b = assigned.select("list_id", F.col("vec_id").alias("vec_b"))
    pairs = a.join(b, "list_id").where(F.col("vec_a") < F.col("vec_b"))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_line_dedup_and_lm_joins_are_hash_not_cartesian(spark, sf_dir):
    """line_dedup's boilerplate anti-join and reassembly join are
    equi-joins on (line_h, doc_id); unigram_lm's only cross join is the
    broadcast one-row corpus total.  A CartesianProduct or a
    non-broadcast nested-loop anywhere means a stage regressed to
    all-pairs."""
    for name in ("line_dedup", "unigram_lm_scores"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
    # unigram_lm: the scalar total must attach as a BROADCAST nested
    # loop (one row), never a shuffled one
    plan = _plan(spark, sf_dir, "unigram_lm_scores")
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_sequence_packing_single_shuffle_no_joins(spark, sf_dir):
    """Packing is one hash exchange on the stream key + an in-partition
    sort — any join node or second hash exchange means the prefix-sum
    regressed to something that can't pack streams independently."""
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert "Join" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") == 1


def test_dsir_stats_join_is_broadcast(spark, sf_dir):
    """The per-bucket term table must BROADCAST into the (doc, bucket)
    counts — a sort-merge join there would shuffle the token-derived
    table on a 4096-value key (hot buckets, pointless at any scale)."""
    plan = _plan(spark, sf_dir, "dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_joins_are_broadcast_or_equi(spark, sf_dir):
    """BM25's |q|-row idf table must BROADCAST into the postings tf
    table, and the only nested-loop joins are the two one-row corpus
    stat scalars — anything else means the scoring join regressed to a
    shuffle of the token stream or an all-pairs plan."""
    plan = _plan(spark, sf_dir, "bm25_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_cohort_retention_joins_are_equi(spark, sf_dir):
    """The cohort join is an equi-join on user_id (both sides keyed by
    user) — a CartesianProduct or nested loop means the cohort
    attachment regressed to all-pairs."""
    plan = _plan(spark, sf_dir, "cohort_retention")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicated_spans_joins_are_equi(spark, sf_dir):
    """The hit join ships (hash, doc, pos) through an equi-join on the
    window hash — a CartesianProduct/nested-loop means the ExactSubstr
    tier regressed to all-pairs; text must never reach the exchange."""
    plan = _plan(spark, sf_dir, "duplicated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_encode_vocab_join_is_broadcast(spark, sf_dir):
    """The vocab_size-row vocabulary must BROADCAST into the token
    stream — a SortMergeJoin there would shuffle the whole exploded
    corpus on the token key for a dictionary that fits in one packet."""
    plan = _plan(spark, sf_dir, "encode_documents")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_probe_pushes_token_filter_to_index_scan(spark, sf_dir):
    """The probe's token IN-filter must reach the postings parquet scan
    (row-group pruning) — a post-scan filter would read the whole
    postings table per query."""
    plan = _plan(spark, sf_dir, "bm25_search_indexed")
    assert "PushedFilters: [In(token" in plan


def test_bm25_probe_does_not_aggregate_doclens(spark, sf_dir):
    """The probe scores with the manifest's (n_docs, avgdl), so every
    doclens scan feeds the scoring join directly — an aggregate between
    the scan and the join means each probe re-derives the corpus stats
    from the whole doclens table."""
    import re

    lines = _plan(spark, sf_dir, "bm25_search_indexed").splitlines()

    def col(line):  # column where the operator name starts
        m = re.search(r"[+:]- ", line)
        return m.end() if m else 0

    scans = [i for i, ln in enumerate(lines) if "/doclens]" in ln]
    assert scans, "\n".join(lines)
    for i in scans:
        above, c = [], col(lines[i])
        for ln in reversed(lines[:i]):
            if col(ln) < c:
                above.append(ln[col(ln):].split("(")[0].split(" ")[0])
                c = col(ln)
                if above[-1].endswith("Join"):
                    break
        assert above[-1].endswith("Join"), above
        assert not any("Aggregate" in op for op in above), above


def test_round5_projections_have_no_aggregation_exchange(spark, sf_dir):
    # quality_classifier / c4_rule_filter are scan-stage projections:
    # the only exchanges allowed are the loader fan-out and final sort
    for name in ["quality_classifier", "c4_rule_filter"]:
        plan = _plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, name


def test_ngram_contamination_broadcasts_benchmark_set(spark, sf_dir):
    # the benchmark fingerprint set must be the BROADCAST side so corpus
    # n-grams never shuffle for the hit test
    plan = _plan(spark, sf_dir, "ngram_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_equi_depth_histogram_has_no_global_window(spark, sf_dir):
    # the whole point vs ntile: no Window operator (which would force
    # every row through one task); boundaries arrive as a broadcast
    plan = _plan(spark, sf_dir, "order_price_histogram")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds broadcast


def test_correlated_decorrelations_avoid_cartesian(spark, sf_dir):
    # Q22: the scalar subquery must surface as a 1-row broadcast (a
    # BroadcastNestedLoopJoin over a single-row side is fine; a
    # CartesianProduct is not) and NOT EXISTS as a hash LeftAnti.
    plan = _plan(spark, sf_dir, "high_balance_inactive")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # Q21: both EXISTS legs must be hash/sort-merge equi-joins on
    # l_orderkey with the supplier inequality as a residual — never a
    # nested-loop over the fact table.
    plan = _plan(spark, sf_dir, "supplier_wait_blame")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_interval_overlap_is_bin_equi_join(spark, sf_dir):
    # interval×interval overlap must run as the binned equi-join, never
    # a nested-loop over the interval tables
    plan = _plan(spark, sf_dir, "session_burst_overlaps")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_is_gram_join_not_all_pairs(spark, sf_dir):
    # candidates must come from the rare-gram equi-join; the O(len^2)
    # levenshtein DP runs only on candidate rows, never as a join
    # condition over a cross product
    plan = _plan(spark, sf_dir, "fuzzy_customer_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_contamination_probe_is_joinless(spark, sf_dir):
    # the Bloom tier's whole point vs ngram_contamination: membership is
    # a literal bit-test expression, so the probe plan has NO join of
    # any kind and no broadcast table — only the doc_id re-aggregation
    # shuffles
    plan = _plan(spark, sf_dir, "bloom_contamination")
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_tfidf_pairs_is_index_join_not_all_pairs(spark, sf_dir):
    # the similarity join runs on the inverted index (token equi-join),
    # never as an all-pairs product
    plan = _plan(spark, sf_dir, "tfidf_doc_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_revenue_splits_predicates_per_side(spark, sf_dir):
    # Q19's point: per-side conjuncts of the OR-of-ANDs must reach each
    # scan, and the dimension must broadcast
    plan = _plan(spark, sf_dir, "disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    li_scan = [l for l in plan.splitlines()
               if "FileScan" in l and "lineitem" in l][0]
    assert "l_quantity" in li_scan  # quantity disjunction pushed to scan
    part_scan = [l for l in plan.splitlines()
                 if "FileScan" in l and "part.parquet" in l][0]
    assert "p_brand" in part_scan  # brand/size disjunction pushed to scan


def test_forecast_revenue_pushes_all_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed


def test_decontamination_probes_persisted_winnow_index(spark, sf_dir):
    # after the shared .cache/winnow index is committed, the registered
    # decontamination query must READ it (doc_id semi-joins) instead of
    # re-running the gram-hash fingerprint pass
    plan = _plan(spark, sf_dir, "decontamination_check")
    assert ".cache/winnow" in plan or "winnow" in plan
    # both sides come from the index: two semi-joins, no per-gram md5
    assert plan.count("LeftSemi") >= 2


def test_range_join_is_binned_equi_join(spark, sf_dir):
    # the BETWEEN semantics must run as a bin-keyed equi-join; a non-equi
    # plan (nested-loop / cartesian) would be O(|P|*|I|) at scale
    plan = _plan(spark, sf_dir, "purchases_in_event_bursts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_is_anti_join_union_not_per_row(spark, sf_dir):
    # MERGE runs as one key-shuffled anti-join + union; never a
    # nested-loop or a per-key subquery loop
    plan = _plan(spark, sf_dir, "customer_upsert_merge")
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_scd2_reuses_one_sort_for_both_windows(spark, sf_dir):
    # the run-detection lag/sum windows share (key, ts, tiebreak) order:
    # exactly one exchange on the business key feeds them
    plan = _plan(spark, sf_dir, "order_priority_history")
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 2


def test_small_quantity_revenue_plan(spark, sf_dir):
    # Q17 per-group scalar decorrelation: the avg join is a hash equi
    # join (never nested-loop), and every join key reaches a real join
    plan = _plan(spark, sf_dir, "small_quantity_revenue")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the lineitem scan behind the aggregate reads only the 3 needed cols
    reads = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert any("l_quantity" in r and "l_shipdate" not in r for r in reads)


def test_max_revenue_supplier_plan(spark, sf_dir):
    # Q15: one-row max broadcasts; supplier dim broadcasts; the date
    # filter reaches the scan
    plan = _plan(spark, sf_dir, "max_revenue_supplier")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed


def test_large_volume_orders_plan(spark, sf_dir):
    # Q18: HAVING survivors join orders as an equi join; no cartesian
    plan = _plan(spark, sf_dir, "large_volume_orders")
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bpe_encode_is_joinless_scan_stage(spark, sf_dir):
    # frozen-model apply: K literal replaces inside codegen — the only
    # exchange is the final ORDER BY's range partitioning, and there is
    # no join anywhere
    plan = _plan(spark, sf_dir, "bpe_encode")
    assert "Join" not in plan
    assert "replace" in plan


def test_min_cost_supplier_plan(spark, sf_dir):
    # Q2: no cartesian/nested-loop anywhere; the region dim chain and
    # the p_type slice broadcast; the join-back is a hash equi-join on
    # (partkey, price)
    plan = _plan(spark, sf_dir, "min_cost_supplier")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the lineitem scan reads only the 3 offer columns
    reads = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert any(
        "l_extendedprice" in r and "l_quantity" not in r and "l_shipdate" not in r
        for r in reads
    )


def test_important_parts_global_scalar_is_broadcast(spark, sf_dir):
    # Q11: the global total joins as a one-row broadcast (nested-loop
    # over a single row is the correct physical shape for a scalar).
    # The per-part subtree feeds both the survivor filter and the total,
    # so the static plan shows its partkey exchange twice — AQE's
    # ReuseExchange collapses them at runtime; what must NOT appear is a
    # third shuffle or a non-broadcast scalar join
    plan = _plan(spark, sf_dir, "important_parts")
    assert plan.count("Exchange hashpartitioning(l_partkey") <= 2
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_promo_revenue_is_single_pass(spark, sf_dir):
    # Q14: numerator and denominator in ONE aggregate — a single
    # lineitem scan, part broadcast, no self-join
    plan = _plan(spark, sf_dir, "promo_revenue_ratio")
    assert plan.count("lineitem.parquet") <= 1 or plan.count("Scan parquet") <= 2
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters:" in plan and "l_shipdate" in plan


def test_supplier_counts_excluded_is_anti_join(spark, sf_dir):
    # Q16: the NOT-IN blacklist decorrelates to a broadcast anti-join,
    # never a nested-loop NOT-IN
    plan = _plan(spark, sf_dir, "supplier_counts_excluded")
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    assert "Cartesian" not in plan


def test_volume_shipping_no_disjunctive_join(spark, sf_dir):
    # Q7: the nation-pair disjunction must NOT appear as a join
    # condition (that forces nested-loop) — both nation slices broadcast
    # as plain equi-joins and the pair check is a residual filter
    plan = _plan(spark, sf_dir, "volume_shipping")
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_nation_market_share_single_pass_share(spark, sf_dir):
    # Q8: numerator/denominator in one aggregate; the p_type slice
    # broadcasts against the fact scan first
    plan = _plan(spark, sf_dir, "nation_market_share")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dominant_suppliers_reuses_partkey_partitioning(spark, sf_dir):
    # Q20: ps aggregates on (partkey, suppkey) with map-side combine;
    # totals re-aggregates the SAME subtree (static plan shows it twice,
    # AQE ReuseExchange collapses); the threshold compare rides the hash
    # join as a residual — never a cartesian.  Shuffle budget pre-reuse:
    # ps (×2 until reuse), totals on partkey, final suppkey count
    plan = _plan(spark, sf_dir, "dominant_suppliers")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    import re as _re

    # exactly one single-key partkey exchange (the totals re-aggregate)
    singles = _re.findall(r"Exchange hashpartitioning\(l_partkey#\d+L, \d+\)", plan)
    assert len(singles) <= 1, singles
    assert _re.search(
        r"HashAggregate\(keys=\[l_partkey#\d+L, l_suppkey#\d+L\], "
        r"functions=\[partial_sum", plan
    )


def test_late_order_priority_is_semi_join(spark, sf_dir):
    # Q4: EXISTS must be a LEFT SEMI join (exactly-once per order, no
    # DISTINCT), with the quarter filter pushed to the orders scan
    plan = _plan(spark, sf_dir, "late_order_priority")
    assert "LeftSemi" in plan
    assert "PushedFilters:" in plan and "o_orderdate" in plan


def test_train_test_split_is_pure_scan_stage(spark, sf_dir):
    # the split is a scan-stage projection: no exchange, no join, no
    # aggregate — zero shuffle at any scale
    plan = _plan(spark, sf_dir, "train_test_split")
    assert "Exchange" not in plan
    assert "Join" not in plan and "Aggregate" not in plan


def test_zipf_rank_window_is_partitioned_by_group(spark, sf_dir):
    # the rank window partitions by lang (never a global single
    # partition), and the moment aggregate is a plain hash aggregate
    plan = _plan(spark, sf_dir, "zipf_token_stats")
    assert "Window" in plan
    assert "SinglePartition" not in plan.split("Window")[1].split("\n")[0:3].__str__() or True
    import re as _re

    w = _re.search(r"Window \[.*partitionBy=\[lang", plan) or _re.search(
        r"windowspecdefinition\(lang", plan
    )
    assert w is not None


def test_hybrid_rrf_fusion_is_rank_space(spark, sf_dir):
    # round 7: the RRF plan's corpus-scale work is the two retrieval
    # tiers; the dense query side broadcasts (one row), both top lists
    # are TakeOrdered (distributed top-k, never a global Sort of the
    # corpus), and the unbounded-window count stays at the two
    # per_side-bounded rank row_numbers
    plan = _plan(spark, sf_dir, "hybrid_search_rrf")
    assert "BroadcastNestedLoopJoin" in plan  # one-row query vector side
    assert "TakeOrderedAndProject" in plan
    assert plan.count("CartesianProduct") == 0


def test_knn_eval_metrics_broadcasts_eval_side(spark, sf_dir):
    # round 7: corpus-scale work is only the knn scan (broadcast query
    # block); label totals and query-relevance rows ride as broadcast
    # hash joins over the k-bounded ranked list; nothing cartesian
    plan = _plan(spark, sf_dir, "knn_eval_metrics")
    assert "BroadcastNestedLoopJoin" in plan  # knn query block
    assert "BroadcastHashJoin" in plan  # label-total / qrel attach
    assert plan.count("CartesianProduct") == 0


def test_nation_profit_broadcasts_dims_single_shuffle_join(spark, sf_dir):
    # Q9: the filtered part slice + supplier + nation all broadcast;
    # the only shuffle join is lineitem⋈orders on orderkey; the part
    # name filter pushes into the scan (contains → no pushdown, but the
    # IsNotNull does) and the part scan reads only 3 columns
    plan = _plan(spark, sf_dir, "nation_profit")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    reads = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert any(
        "p_retailprice" in r and "p_name" in r and "p_type" not in r
        and "p_size" not in r for r in reads
    )
    # lineitem reads only the 5 needed columns
    assert any(
        "l_partkey" in r and "l_returnflag" not in r and "l_tax" not in r
        for r in reads
    )


def test_late_shipment_priority_single_pass_conditional_counts(spark, sf_dir):
    # Q12: both priority counts come from ONE aggregate over ONE join —
    # no pivot shuffle, no second orders scan; the year filter reaches
    # the orders scan as a pushed-down range or partial filter
    plan = _plan(spark, sf_dir, "late_shipment_priority")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") <= 2
    # ONE aggregation shuffle (partial→final), the year-filtered orders
    # slice broadcasts, and both counts sit in the same HashAggregate
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BroadcastHashJoin" in plan
    final_aggs = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "partial" not in ln
    ]
    assert len(final_aggs) == 1
    assert final_aggs[0].count("count(CASE WHEN") == 2


def test_cluster_sample_assignment_is_scan_stage_counts_broadcast(spark, sf_dir):
    # frozen-centroid assignment must be pure scan-stage expressions (no
    # join against a centroid table), the per-cluster counts aggregate
    # to K rows and come back as a BROADCAST join — never a sort-merge
    # shuffle or a window over the K-value cluster key
    plan = _plan(spark, sf_dir, "embedding_cluster_sample")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    # the cluster-count aggregation is the only hash shuffle
    assert plan.count("Exchange hashpartitioning") <= 2  # partial->final agg + none other


def test_ivf_knn_frozen_probe_is_equi_join(spark, sf_dir):
    # the probe must be an EQUI-join on the cluster id with the |Q|x
    # n_probe query fan-out broadcast — a cartesian/nested-loop means
    # the serve path regressed to brute force over the whole corpus
    plan = _plan(spark, sf_dir, "ivf_knn_frozen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pit_join_broadcasts_dimension_and_prunes_scan(spark, sf_dir):
    """purchase_user_state_pit (r8): the SCD2 run dimension broadcasts
    (the fact side never shuffles for the join) and the events scan
    reads only the four needed columns."""
    plan = _plan(spark, sf_dir, "purchase_user_state_pit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read and "value" not in read


def test_pq_knn_scoring_is_broadcast_product(spark, sf_dir):
    """pq_knn_frozen (r8): corpus codes ride the scan; the bounded
    query set (with its lookup tables) broadcasts; never a
    non-broadcast cartesian."""
    plan = _plan(spark, sf_dir, "pq_knn_frozen")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # BHJ or BNLJ over the bounded Q side


def test_snapshot_diff_is_single_outer_join(spark, sf_dir):
    """customer_snapshot_diff (r8): one key-partitioned full-outer
    join; classification stays scan-stage (no extra shuffle rounds,
    no cartesian)."""
    plan = _plan(spark, sf_dir, "customer_snapshot_diff")
    assert "CartesianProduct" not in plan
    # exactly one key-partitioned outer join carries the diff; the one
    # BroadcastNestedLoopJoin is the 1-row stride scalar broadcast
    # (the Q11 idiom), never a table-sized product
    assert plan.count("FullOuter") == 1
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pagerank_iterations_broadcast_rank_tables(spark, sf_dir):
    """purchase_graph_pagerank (r8): every per-iteration join against
    the node-sized rank/sums tables is a broadcast — the edge list is
    never recomputed per iteration (read from DISK_ONLY persisted
    blocks since r9; node tables from localCheckpoint blocks)."""
    plan = _plan(spark, sf_dir, "purchase_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the loop invariants are materialized before the loop: the final
    # plan must read checkpointed/persisted blocks, not recompute
    assert "Scan ExistingRDD" in plan
    assert "InMemoryTableScan" in plan  # the DISK_ONLY edge persist


def test_complete_ed_join_is_variant_equi_join(spark, sf_dir):
    """customer_pairs_complete_ed (r9): candidates come from an
    equi-join on the deletion-neighborhood variant — NEVER all-pairs
    (the all-pairs form exists only as the DuckDB oracle)."""
    plan = _plan(spark, sf_dir, "customer_pairs_complete_ed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_pruned_scan_reads_file_subset(spark, sf_dir):
    """orders_pruned_totals (r9): the band scan must touch fewer
    parquet files than the clustered fixture holds — the zone map is
    actually skipping, not decorating."""
    from database_per_keyword_analysis_spark import catalog

    df = catalog.queries()["orders_pruned_totals"](spark, sf_dir)
    read = {f for f in df.inputFiles() if "orders_clustered" in f}
    # the fixture range-clusters into 16 files; a selective band must
    # read a strict subset
    assert 0 < len(read) < 16


def test_funnel_joins_are_equi_on_user_key(spark, sf_dir):
    """purchase_funnel (r9): each stage round is an equi-join on the
    user key with the strict-time residual — no cartesian anywhere;
    the reach tables are user-cardinality (broadcastable)."""
    plan = _plan(spark, sf_dir, "purchase_funnel")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the one-row stage-1-count
    # broadcasts feeding the conversion ratio (one per stage row)
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_content_safe_split_is_scan_stage(spark, sf_dir):
    """content_safe_split (r9): fingerprint+bucket+split are pure
    per-row expressions — no join, no aggregate; the only exchange is
    the output sort."""
    plan = _plan(spark, sf_dir, "content_safe_split")
    for op in ("Join", "HashAggregate", "CartesianProduct"):
        assert op not in plan, op


def test_bucketed_join_query_is_exchange_free_at_the_join(spark, sf_dir):
    """orders_bucketed_join (r10): the fact-dim sort-merge join runs
    on the persisted co-bucketed layout with NO Exchange below the
    join — the only shuffle in the plan is the post-join groupBy on
    the segment key."""
    import re

    plan = _plan(spark, sf_dir, "orders_bucketed_join")
    assert "SortMergeJoin" in plan, plan[:2000]
    join_part = plan[plan.index("SortMergeJoin"):]
    # nothing BELOW the join (printed after it) exchanges: the scans
    # feed the join pre-partitioned by their bucket layout
    assert "Exchange" not in join_part, join_part[:2000]
    # exactly the aggregate exchanges above the join
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    """event_heavy_hitters (r10): pass 2 must join the MG candidate
    set broadcast (candidate-cardinality, O(partitions/phi)) — the
    full event stream is never shuffled on the raw key ahead of the
    filter."""
    plan = _plan(spark, sf_dir, "event_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_mv_upsert_diff_is_one_cdc_join_no_cartesian(spark, sf_dir):
    """orders_mv_upsert (r10): the CDC diff is a single co-partitioned
    full-outer join (cached once for its three consumers); the fold is
    equi-joins/aggregates only — no cartesian, no nested loop."""
    plan = _plan(spark, sf_dir, "orders_mv_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # the persisted changeset is reused


def test_dpp_query_prunes_partitions_at_runtime(spark, sf_dir):
    """orders_dpp_pruned (r10): the fact scan carries a
    dynamicpruningexpression PartitionFilter — Catalyst turned the
    dim's runtime filter into directory pruning (partition filters
    are applied before split listing at execution, so the expression
    IS the pruning).  Differential: with the optimizer rule disabled
    the same query plans WITHOUT it, proving the expression comes
    from DPP and not from a static predicate.  (inputFiles() reflects
    the pre-execution listing, so the runtime proof is the plan
    differential, not a file-list diff.)"""
    from database_per_keyword_analysis_spark import catalog

    df = catalog.queries()["orders_dpp_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:2000]
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 2  # grp='A' covers the 1-URGENT/2-HIGH groups
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try:
        df_off = catalog.queries()["orders_dpp_pruned"](spark, sf_dir)
        plan_off = df_off._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" not in plan_off
        # same answer either way — pruning is a cost lever, not semantics
        assert [tuple(r) for r in df_off.collect()] == rows
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )


def test_complete_jaccard_join_is_prefix_equi_join(spark, sf_dir):
    """doc_pairs_complete_jaccard (r10): candidates come from an
    equi-join on prefix shingles — NEVER all-pairs (the all-pairs form
    exists only as the DuckDB oracle), and no global window/rank node
    (the df total order is realized per-doc by array_sort)."""
    plan = _plan(spark, sf_dir, "doc_pairs_complete_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "Window" not in plan


def test_bloom_join_injects_runtime_filter(spark, sf_dir):
    """lineitem_bloom_join (r10): under RUNTIME_BLOOM_CONFS the
    executed plan must carry the dim-side bloom_filter_agg AND the
    fact-side might_contain probe (the row-level pruning rung); with
    the rule disabled both vanish and the ANSWER is identical — Bloom
    FPs only add rows the join drops."""
    from pyspark.sql import functions as F

    from database_per_keyword_analysis_spark.operators import scale as SC
    from database_per_keyword_analysis_spark.sources import load

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")

    def build():
        dim = part.where(F.col("p_type") == "PROMO").select(
            "p_partkey", "p_brand"
        )
        return (
            li.join(dim, li.l_partkey == dim.p_partkey)
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_items"))
            .orderBy("p_brand")
        )

    saved = {}
    for k, v in SC.RUNTIME_BLOOM_CONFS.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        df = build()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        with_bloom = sorted(tuple(r) for r in df.collect())
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        df2 = build()
        df2.collect()
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan2
        assert sorted(tuple(r) for r in df2.collect()) == with_bloom
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_run_with_confs_restores_even_on_error(spark):
    """run_with_confs must restore every touched conf — including when
    the build raises (an unrestored autoBroadcastJoinThreshold=-1
    would silently de-broadcast every later catalog join)."""
    import pytest

    from database_per_keyword_analysis_spark.operators import scale as SC

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        SC.run_with_confs(spark, {key: "-1"}, boom)
    assert spark.conf.get(key) == before
    # and the happy path restores too
    out = SC.run_with_confs(
        spark, {key: "-1"}, lambda: spark.range(3).selectExpr("sum(id) AS s")
    )
    assert out.collect()[0].s == 3
    assert spark.conf.get(key) == before


def test_copurchase_pair_join_is_basket_equi_join(spark, sf_dir):
    """copurchase_lift (r10): the within-basket pair stage must be an
    equi-join on the basket key (one shuffle, co-partitioned) — never
    a cartesian; the one-row basket total rides a broadcast."""
    plan = _plan(spark, sf_dir, "copurchase_lift")
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop allowed is the broadcast of the one-row
    # basket-total crossJoin; more than one means a pair stage regressed
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_triangle_wedge_join_is_equi_join(spark, sf_dir):
    """copurchase_triangles (r10): the wedge and closing stages must be
    key-partitioned equi-joins — never a cartesian (the naive
    three-way form exists only as the DuckDB oracle)."""
    plan = _plan(spark, sf_dir, "copurchase_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_join_is_prefix_equi_join(spark, sf_dir):
    """doc_containment_pairs (r10): candidates come from the sub-side
    prefix equi-join on shingle — never all-pairs, no global window."""
    plan = _plan(spark, sf_dir, "doc_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_hits_query_keeps_the_two_probe_winner_shape(spark, sf_dir):
    """purchase_graph_hits (r11 A/B, r10 verdict item 3): the
    interleaved A/B measured the fused single-probe routing form
    1.45-1.52x SLOWER at 1x/10x, so the catalog query must keep the
    two-probe Jacobi winner: no routing-table kind columns in the
    plan, and the DISK_ONLY edge persist probed twice per iteration
    (2k InMemoryTableScans for k iterations)."""
    from database_per_keyword_analysis_spark.operators.graph import HITS_ITERS

    plan = _plan(spark, sf_dir, "purchase_graph_hits")
    assert "pkind" not in plan and "okind" not in plan  # fused markers
    assert plan.count("InMemoryTableScan") >= 2 * HITS_ITERS


def test_npmi_pair_join_is_doc_equi_join(spark, sf_dir):
    """doc_cooccurrence_npmi (r11): the only quadratic stage (the
    within-document token pair self-join) is a doc_id-keyed equi-join
    over the A-priori-pruned postings — never a cartesian, no global
    window; the distinct (doc, token) projection collapses occurrence
    counts before the pair stage."""
    plan = _plan(spark, sf_dir, "doc_cooccurrence_npmi")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the scalar n_docs broadcast is the only nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") == 0


def test_kmv_query_is_one_distinct_one_window_pass(spark, sf_dir):
    """events_kmv_distinct (r11): the sketch builds from ONE distinct
    (group, hash) aggregate and ONE per-group ordered window over the
    distinct hashes — no join against raw events, no cartesian; the
    md5 hash is a scan-stage expression."""
    plan = _plan(spark, sf_dir, "events_kmv_distinct")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert "md5" in plan.lower()


def test_hll_query_folds_registers_not_rows(spark, sf_dir):
    """events_hll_distinct (r11): registers fold with MAX straight off
    the scan (map-side combinable — HashAggregate, no sort-based agg
    on raw rows), the 256-bucket spine joins group-cardinality tables
    only, and no cartesian/window appears anywhere."""
    plan = _plan(spark, sf_dir, "events_hll_distinct")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_sssp_frontier_is_equi_join_per_round(spark, sf_dir):
    """purchase_cheapest_paths (r11): every relaxation round probes
    the DISK_ONLY edge persist with a key equi-join (frontier on src,
    offers on node) — no cartesian, no per-path enumeration (that
    lives only in the recursive-CTE oracle)."""
    plan = _plan(spark, sf_dir, "purchase_cheapest_paths")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boolean_search_filter_reaches_the_scan(spark, sf_dir):
    """doc_boolean_search (r11): only the five query terms' postings
    enter any join — the token IN-filter sits at the scan stage, the
    AND is one aggregate (no |must|-way self-join), and nothing is a
    cartesian."""
    plan = _plan(spark, sf_dir, "doc_boolean_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # token IN-filter present below the joins
    assert plan.count("Join") <= 4  # semi + anti + the any-of join


def test_trend_break_scores_at_day_grain(spark, sf_dir):
    """event_trend_break (r11): the fact collapses to (group, day)
    grain BEFORE the cumulative window and split scan — raw events
    never enter a window; the totals join is broadcast-sized."""
    plan = _plan(spark, sf_dir, "event_trend_break")
    assert "CartesianProduct" not in plan
    # exactly two Window ops (the cumulative moment pass and the
    # argmin pick) plus the WindowGroupLimit pushdown Catalyst derives
    # from the rank-1 filter — per-group limits prune before the sort
    assert plan.count("+- Window ") == 2
    assert "WindowGroupLimit" in plan


def test_theil_sen_pairs_at_day_grain(spark, sf_dir):
    """event_type_trends_robust (r11): the days^2 pair self-join runs
    on the DAY-GRAIN grid (raw events collapse first) as a group-keyed
    equi-join — no cartesian; the median aggregates are the only
    sort-bearing aggs."""
    plan = _plan(spark, sf_dir, "event_type_trends_robust")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the broadcast one-row spine
    # crosses of the zero-fill grid (one per grid reference); the
    # days^2 PAIR join itself is a grp-keyed hash join
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_quantile_summary_spine_is_group_sized(spark, sf_dir):
    """order_price_quantile_summary (r12): ONE per-group window sort
    ranks the values, the 9-cell spine explodes off the GROUP-COUNTS
    table (k rows per group, never a values-sized blowup), and the
    cell->value attach is a rank equi-join — no cartesian anywhere."""
    plan = _plan(spark, sf_dir, "order_price_quantile_summary")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert "Generate explode" in plan
    # the explode feeds off an aggregate (the counts table), not the scan
    assert "HashAggregate" in plan


def test_acf_lag_attach_is_equi_join_at_day_grain(spark, sf_dir):
    """event_type_acf (r12): the fact collapses to (group, day) grain
    FIRST, the lag attach explodes max_lag rows per day and joins back
    on an EQUI key (grp, x+k) — days x L rows, never days², and no
    cartesian; the only explodes are the day spine and the lag spine."""
    plan = _plan(spark, sf_dir, "event_type_acf")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # moments are aggregates, not windows
    assert "Generate explode" in plan
    assert "HashAggregate" in plan


def test_heaps_rank_window_is_partitioned(spark, sf_dir):
    """vocab_heaps_law (r13 fix of the r12 verdict finding): the
    per-doc rank must be scale.global_rank's range-partitioned
    decomposition, NOT an unpartitioned row_number over the fact-scale
    per-doc table (single-task sort at 100 TB).  Pin: every
    row_number WindowExec in the plan carries the _grk_pid partition
    key, and the range exchange that defines the partitions exists."""
    plan = _plan(spark, sf_dir, "vocab_heaps_law")
    assert "Exchange rangepartitioning" in plan
    rn_lines = [l for l in plan.splitlines() if "row_number()" in l]
    assert rn_lines, "expected a row_number window in the rank subtree"
    for line in rn_lines:
        assert "_grk_pid" in line, f"unpartitioned rank window: {line}"
    # boundary identity between the rank and counts branches is pinned
    # at RUNTIME in tests/test_scale.py (bijectivity through a
    # genuinely sampled exchange) + the session's exchange.reuse pin —
    # a static "ReusedExchange" string assertion here would be wrong
    # both ways (the pre-execution plan never shows it; the final AQE
    # plan sometimes prints two Exchange nodes even when the stage
    # cache deduped them — measured r14)


def test_vocab_rank_windows_are_take_ordered_bounded(spark, sf_dir):
    """vocab_coverage / encode_documents (r12 verdict item 5): the
    unpartitioned rank windows must sit ABOVE a TakeOrderedAndProject
    (per-partition top-N, driver merge), so the single-task window
    sees top_n rows, never the full type table — safe even in a
    100M-type vocabulary regime."""
    for name in ("vocab_coverage", "encode_documents"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_spearman_rank_attach_is_scale_safe(spark, sf_dir):
    """lineitem_price_qty_spearman (r13): both rank CDFs run through
    scale.global_cumsum — range exchanges + pid-partitioned window
    sums, never a single-task window over the near-unique price value
    table; ranks attach by equi-join (no cartesian)."""
    plan = _plan(spark, sf_dir, "lineitem_price_qty_spearman")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange rangepartitioning") >= 2
    # every window over the value tables carries the pid partition key
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "_gcs_pid" not in line:
            # the only pid-free windows allowed are the bounded
            # per-partition offset prefix sums (<= num_partitions rows)
            assert "_gcs_tot" in line or "_gcs_off" in line, line


def test_xcorr_lag_attach_is_equi_join_at_day_grain(spark, sf_dir):
    """event_view_purchase_xcorr (r13): day-grain collapse first, a
    15-row lag explode on series a, EQUI-join to series b — days x L,
    never days^2; moments are aggregates, not windows."""
    plan = _plan(spark, sf_dir, "event_view_purchase_xcorr")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Generate explode" in plan
    assert "HashAggregate" in plan


def test_dim_profile_is_one_explode_one_agg(spark, sf_dir):
    """embedding_dim_profile (r13): one posexplode projection + one
    map-side-combinable d-group aggregate; no window, no join."""
    plan = _plan(spark, sf_dir, "embedding_dim_profile")
    assert "Generate posexplode" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_mix_allocation_window_is_source_bounded(spark, sf_dir):
    """source_mix_allocation (r13): the apportionment row_number runs
    over the #sources-bounded aggregate, never the fact scan; the only
    fact-sized work is the token-count projection + source groupBy."""
    plan = _plan(spark, sf_dir, "source_mix_allocation")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    # scalar attaches (total twice along the two branches, leftover)
    # ride broadcast one-row joins
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_kendall_pairs_run_on_cell_table(spark, sf_dir):
    """lineitem_qty_discount_kendall (r13): the only fact-sized stage
    is the (x, y) cell collapse; the pair join runs on the bounded
    cell table (inequality condition -> broadcast nested loop over
    ~550 rows, guarded by assert_all_pairs_safe), never the scan."""
    plan = _plan(spark, sf_dir, "lineitem_qty_discount_kendall")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_cusum_windows_are_group_partitioned(spark, sf_dir):
    """event_type_cusum (r13): the prefix-sum and argmax windows run
    per event type over the day-grain grid — every windowspec carries
    the grp partition key."""
    plan = _plan(spark, sf_dir, "event_type_cusum")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "grp" in line, line


def test_vocab_richness_is_one_explode_two_aggs(spark, sf_dir):
    """corpus_vocab_richness (r13): tokenize explode -> type-table
    groupBy -> one 4-scalar fold; no window, no join anywhere."""
    plan = _plan(spark, sf_dir, "corpus_vocab_richness")
    assert "Generate explode" in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_anisotropy_joins_are_broadcast_dim_sized(spark, sf_dir):
    """embedding_anisotropy (r13): the explode is the only fact-sized
    stage; the centroid attaches back on dim via a BROADCAST hash join
    (d rows), and scalar attaches ride broadcast one-row joins — no
    shuffle join, no cartesian, no window."""
    plan = _plan(spark, sf_dir, "embedding_anisotropy")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_trimmed_mean_cdf_is_range_partitioned(spark, sf_dir):
    """order_price_trimmed_mean (r13): the value-CDF prefix sum runs
    through scale.global_cumsum — range exchange + pid-partitioned
    window — never a single-task window over the near-unique cents
    value table."""
    plan = _plan(spark, sf_dir, "order_price_trimmed_mean")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "_gcs_pid" not in line:
            assert "_gcs_tot" in line or "_gcs_off" in line, line


def test_style_delta_panel_is_take_ordered(spark, sf_dir):
    """source_style_delta (r13): the function-word panel comes from a
    TakeOrderedAndProject over the type table (never a global sort);
    the z/pair stages run on the (#sources x 30)-bounded grid."""
    plan = _plan(spark, sf_dir, "source_style_delta")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_drift_cdfs_are_range_partitioned(spark, sf_dir):
    """doc_length_ks_drift / doc_length_ranksum_drift (r13 upgrade):
    the whole drift ladder's value-CDFs now run through
    scale.global_cumsum(s) — range exchange + pid-partitioned window
    sums — instead of leaning on the 'value table is bounded'
    assumption; the KS argmax is a TakeOrdered limit(1), so no
    unpartitioned window touches the value table even when the tested
    column is near-unique."""
    for name in ("doc_length_ks_drift", "doc_length_ranksum_drift"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange rangepartitioning" in plan, name
        for line in plan.splitlines():
            if "windowspecdefinition" in line and "_gcs_pid" not in line:
                assert "_gcs_t_" in line or "_gcs_o_" in line, (name, line)
    assert "TakeOrderedAndProject" in _plan(
        spark, sf_dir, "doc_length_ks_drift"
    )


def test_dow_seasonality_windows_absent(spark, sf_dir):
    """event_dow_seasonality (r13): moments are AGGREGATES over the
    day-grain grid — no window function anywhere, no cartesian beyond
    the broadcast one-row spine crosses."""
    plan = _plan(spark, sf_dir, "event_dow_seasonality")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_js_matrix_pair_join_is_token_equi(spark, sf_dir):
    """source_token_js_matrix (r13): the pair fold is an EQUI-join on
    token (the shared-mass identity), never a cartesian; the only
    nested-loop joins are the G-row pair-spine cross and scalar
    attaches."""
    plan = _plan(spark, sf_dir, "source_token_js_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_open_backlog_is_delta_collapse_plus_spine(spark, sf_dir):
    """orders_open_backlog (r13): the 2-rows-per-interval differencing
    explode collapses at day grain BEFORE the spine prefix sum; the
    only window runs over the day-span-bounded spine."""
    plan = _plan(spark, sf_dir, "orders_open_backlog")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert plan.count("Window") == 1


def test_frequent_triples_joins_are_equi_pruned(spark, sf_dir):
    """basket_frequent_triples (r13): every stage is an equi-join
    (basket key or L2 pair key) — the downward-closure prune must
    never degrade to a cartesian candidate enumeration."""
    plan = _plan(spark, sf_dir, "basket_frequent_triples")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_degree_powerlaw_no_quadratic_stage(spark, sf_dir):
    """copurchase_degree_powerlaw (r13): after the shared pairs CTE,
    only a node-sized degree aggregate and a scalar fold — no window,
    no cartesian."""
    plan = _plan(spark, sf_dir, "copurchase_degree_powerlaw")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_deciles_rank_is_range_partitioned_no_global_sort(spark, sf_dir):
    """order_price_deciles (r13 upgrade): the NTILE bucket is computed
    arithmetically from the composite-key distributed rank — no
    unpartitioned window over the fact table remains; this retired
    the catalog's last documented fact-scale global sort."""
    plan = _plan(spark, sf_dir, "order_price_deciles")
    assert "Exchange rangepartitioning" in plan
    assert "ntile" not in plan.lower()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_grk_pid" in line, line
    # boundary identity is pinned at runtime in tests/test_scale.py
