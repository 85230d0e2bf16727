"""Plan-shape assertions: scale-critical physical-plan properties must
hold (and stay held) for the headline queries — pushdown, pruning,
broadcast, top-k without global sort."""

from __future__ import annotations

from pyconnect_spark.plans import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema,
    wholestage_codegen_spans,
)
from pyconnect_spark.registry import ALL

SF = "/root/testdata/sf0.01"
_Q = ALL.builders()


def test_b01_filter_pushed_and_columns_pruned(spark):
    df = _Q["b01_filter_project"](spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "GreaterThan" in pf
    cols = read_schema(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}  # pruned


def test_b03_date_filter_pushed(spark):
    df = _Q["b03_tpch_q1"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    assert "l_partkey" not in read_schema(df)  # unused columns pruned


def test_b06_broadcast_and_topk(spark):
    df = _Q["b06_tpch_q3"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in text  # top-10 without a global sort


def test_b10_dimension_broadcast(spark):
    assert has_broadcast_join(_Q["b10_broadcast_join"](spark, SF))


def test_b18_topk_no_global_sort(spark):
    assert "TakeOrderedAndProject" in explain_str(_Q["b18_global_topk"](spark, SF))


def test_codegen_spans_exist(spark):
    # whole-stage codegen active on the hot aggregation path
    assert wholestage_codegen_spans(_Q["b03_tpch_q1"](spark, SF)) >= 1


def test_x17_q5_broadcasts_dims_single_fact_shuffle(spark):
    df = _Q["x17_tpch_q5"](spark, SF)
    text = explain_str(df)
    assert "BroadcastHashJoin" in text
    # the one big exchange is lineitem<->orders on orderkey; dims must NOT
    # introduce extra shuffle exchanges (broadcast exchanges are fine).
    # NB: formatted explain lists each op as "(n) Exchange" in the details
    # section — "Exchange hashpartitioning" (simple mode) never appears.
    import re
    shuffles = len(re.findall(r"\(\d+\) Exchange\b", text))
    assert shuffles <= 3, text  # join + partial/final agg, not one per dim


def test_x20_q19_disjunction_pushed_to_both_scans(spark):
    df = _Q["x20_tpch_q19"](spark, SF)
    pf = pushed_filters(df)
    # extracted common bounds reach the scans on BOTH sides
    assert any("l_quantity" in f for f in pf), pf
    assert any("p_size" in f or "p_brand" in f for f in pf), pf


def test_x21_single_lineitem_scan(spark):
    df = _Q["x21_late_supplier"](spark, SF)
    text = explain_str(df)
    assert text.count("lineitem.parquet") == 1, "window rewrite must scan the fact once"


def test_x24_q10_topk_without_global_sort(spark):
    df = _Q["x24_tpch_q10"](spark, SF)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_x22_q22_anti_join_prunes_orders_to_one_column(spark):
    df = _Q["x22_tpch_q22"](spark, SF)
    cols = read_schema(df)
    # orders contributes only the join key (+ pushed date filter column)
    assert "o_custkey" in cols
    assert "o_totalprice" not in cols and "o_orderstatus" not in cols


def test_ts07_retention_broadcasts_first_seen(spark):
    assert has_broadcast_join(_Q["ts07_retention"](spark, SF))


def test_tx10_vocab_topk_no_global_sort(spark):
    # corpus wordcount top-k: partial (map-side) agg + TakeOrderedAndProject,
    # never a full sort of the vocabulary
    text = explain_str(_Q["tx10_vocab_topk"](spark, SF))
    assert "TakeOrderedAndProject" in text
    assert "partial_count" in text  # combiner shrinks the shuffle


def test_sm08_centroids_broadcast(spark):
    # the tiny centroid side must broadcast; the corpus must not sort-merge
    text = explain_str(_Q["sm08_centroid_assign"](spark, SF))
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_x29_sample_never_reads_text(spark):
    # hash-stratified sampling keys on doc_id — the scan must not read the
    # (wide) text column at all
    assert "text" not in read_schema(_Q["x29_stratified_sample"](spark, SF))


def test_tx11_tfidf_broadcast_df_and_grouplimit(spark):
    # document-frequency table broadcasts; per-doc top-3 uses
    # WindowGroupLimit (rank pruned before the window sort)
    text = explain_str(_Q["tx11_tfidf_keywords"](spark, SF))
    assert "BroadcastHashJoin" in text
    assert "WindowGroupLimit" in text


def test_ts13_ohlc_partial_agg(spark):
    # min_by/max_by OHLC stays a partial-merge hash aggregate — no
    # per-window sort anywhere in the plan
    text = explain_str(_Q["ts13_ohlc_bars"](spark, SF))
    assert "partial_min" in text and "partial_max" in text
    assert "WindowGroupLimit" not in text


def test_x30_q6_predicates_pushed_columns_pruned(spark):
    df = _Q["x30_tpch_q6"](spark, SF)
    pf = " ".join(pushed_filters(df))
    # plain comparisons reach the scan; the decimal-cast discount band
    # legitimately cannot push (cast blocks parquet filters) but must not
    # drag extra columns into the read
    assert "l_shipdate" in pf and "l_quantity" in pf
    assert set(read_schema(df)) == {
        "l_shipdate", "l_quantity", "l_discount", "l_extendedprice",
    }


def test_x31_q13_outer_join_survives(spark):
    # the priority anti-predicate must stay in the join ON clause: the
    # plan keeps a LeftOuter join (a WHERE would have turned it inner and
    # dropped the zero-order customers from the distribution)
    assert "LeftOuter" in explain_str(_Q["x31_tpch_q13"](spark, SF))


def test_x32_q15_single_fact_scan_and_shuffle(spark):
    df = _Q["x32_tpch_q15"](spark, SF)
    assert has_broadcast_join(df)
    # the broadcast-max rewrite shares the per-supplier aggregate between
    # the main branch and the max branch: after execution AQE must have
    # reused the groupBy(l_suppkey) shuffle stage, so lineitem is scanned
    # and shuffled ONCE (the scalar-subquery formulation scanned it twice,
    # and the old SUM() OVER () window was a single-partition exchange)
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    final = text.split("== Initial Plan ==")[0]  # drop the pre-AQE section
    assert "ReusedExchange" in final, final
    real_exchanges = [
        ln
        for ln in final.splitlines()
        if "Exchange hashpartitioning(l_suppkey" in ln and "ReusedExchange" not in ln
    ]
    assert len(real_exchanges) == 1, final


def test_x33_q17_part_slice_broadcast(spark):
    assert has_broadcast_join(_Q["x33_tpch_q17"](spark, SF))


def test_x33_q17_aggregate_input_is_brand_filtered(spark):
    # the per-part quantity aggregate must consume the brand-restricted
    # join output, not all of lineitem: every lineitem scan in the plan
    # sits under a broadcast join with the filtered part slice, so the
    # only wide shuffle (groupBy l_partkey) carries ~1/25 of the fact
    text = explain_str(_Q["x33_tpch_q17"](spark, SF))
    n_li_scans = text.count("lineitem.parquet")
    assert text.count("BroadcastHashJoin") >= n_li_scans, text


def test_tx11_build_launches_no_extra_jobs(spark):
    # N (corpus size) is a broadcast scalar INSIDE the plan; constructing
    # the query must not trigger a driver-side count() job. Every
    # spark.read.parquet fires one tiny footer-schema job, so the lazy
    # baseline is "same job count as a trivially-lazy single-table build",
    # not literally zero. Jobs are counted inside a UNIQUE job group per
    # build: the length of getJobIdsForGroup(None) goes NEGATIVE in long
    # sessions because the status store evicts old job IDs
    # (spark.ui.retainedJobs), which made the old before/after-length
    # delta meaningless after ~1000 jobs.
    sc = spark.sparkContext

    def jobs_during(name):
        group = f"lazy-probe-{name}"
        sc.setJobGroup(group, f"laziness probe: {name}")
        try:
            _Q[name](spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    baseline = jobs_during("tx01_text_stats")  # known-lazy, same table
    assert jobs_during("tx11_tfidf_keywords") <= baseline, "building tx11 must be lazy"


def test_curation_queries_job_count_ceilings(spark):
    # dd01 answers its three counts in one aggregate; dd05's connected
    # components runs one shuffle + one checkpoint job per round with the
    # convergence flag observed on the checkpoint job; sm18's index build
    # and search is one plan over broadcast quantizer/codebook rows. Each
    # extra Spark job costs its fixed scheduling and planning time, so the
    # counts of builder + collect() are pinned as ceilings (same unique
    # job-group counting as the tx11 laziness test). The previous forms
    # launched 9, 37 and 29 jobs.
    sc = spark.sparkContext
    ceilings = {"dd01_exact_dedup": 4, "dd05_dedup_clusters": 10, "sm18_ivfadc": 10}
    for name, ceiling in ceilings.items():
        group = f"job-count-{name}"
        sc.setJobGroup(group, f"job count: {name}")
        try:
            _Q[name](spark, SF).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= ceiling, f"{name} launched {jobs} Spark jobs (ceiling {ceiling})"


def test_x34_q12_pruned_read_and_partial_agg(spark):
    # Q12 shape: the conditional counts must partial-aggregate map-side,
    # and each scan reads only its join/date/priority columns
    df = _Q["x34_tpch_q12_late_shipments"](spark, SF)
    text = explain_str(df)
    assert "partial_count" in text or "partial_sum" in text
    assert set(read_schema(df)) <= {
        "l_orderkey", "l_shipdate", "o_orderkey", "o_orderdate", "o_orderpriority",
    }


def test_tx13_entropy_reads_only_id_and_text(spark):
    assert set(read_schema(_Q["tx13_char_entropy"](spark, SF))) == {"doc_id", "text"}


def test_tx14_zipf_topk_uses_window_group_limit(spark):
    # per-language top-100 rank filter must prune inside the window sort
    # (WindowGroupLimit), never materialize the full ranked vocabulary
    text = explain_str(_Q["tx14_zipf_audit"](spark, SF))
    assert "WindowGroupLimit" in text
    assert "partial_count" in text  # wordcount combiner


def test_ts15_zscore_single_exchange(spark):
    # window frame and final groupBy share the event_type partitioning:
    # exactly one hash exchange in the whole plan (formatted explain lists
    # shuffle exchanges as "(n) Exchange", broadcast as "BroadcastExchange")
    import re
    text = explain_str(_Q["ts15_zscore_anomaly"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 1, text


def test_x35_lateral_decorrelates_to_join_group_limit(spark):
    # the correlated LATERAL (ORDER BY + LIMIT 2) must decorrelate into an
    # equi join + WindowGroupLimit — never a per-row subquery or cartesian
    text = explain_str(_Q["x35_lateral_topk"](spark, SF))
    assert "WindowGroupLimit" in text
    assert "BroadcastHashJoin" in text or "SortMergeJoin" in text
    assert "CartesianProduct" not in text


def test_ts16_twa_single_exchange(spark):
    # hour bucket is projected before the window, so the lead() window and
    # the (event_type, hr) aggregation share one hash partitioning
    import re
    text = explain_str(_Q["ts16_time_weighted_avg"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 1, text


def test_x37_scd2_single_exchange_no_join(spark):
    # interval build is one window pass per customer: one shuffle, no joins
    import re
    text = explain_str(_Q["x37_scd2_intervals"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 1, text
    assert "Join" not in text


def test_sm10_broadcasts_centroids(spark):
    # the corpus never shuffles: centroids broadcast against one scan;
    # the only hash exchanges key on (label,idx)/(vec_id)/(label)
    text = explain_str(_Q["sm10_cluster_quality"](spark, SF))
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text and "CartesianProduct" not in text


def test_tx15_redaction_map_only(spark):
    # PII scrub is scan-tier: no exchange, no join — one codegen stage
    import re

    df = _Q["tx15_pii_redaction"](spark, SF)
    text = explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 0, text
    assert "Join" not in text
    assert set(read_schema(df)) == {"doc_id", "text"}  # only what it needs


def test_tx16_chunk_dedup_shuffles_hashes_not_text(spark):
    # the chunk-frequency exchange must carry the 16-byte md5 key, never
    # the chunk text or the source document text
    text = explain_str(_Q["tx16_chunk_dedup"](spark, SF))
    import re

    exchanges = re.findall(r"\(\d+\) Exchange[^(]*Input \[\d+\]: \[([^\]]*)\]", text)
    for cols in exchanges:
        assert "text" not in cols.split(", "), cols


def test_x36_q4_semi_join_and_date_pushdown(spark):
    df = _Q["x36_tpch_q4"](spark, SF)
    text = explain_str(df)
    assert "LeftSemi" in text  # EXISTS decorrelated, no duplicate matches
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_sm11_knn_broadcasts_queries_group_limit(spark):
    # 10-row query set broadcasts; per-query top-5 prunes partially per
    # partition (WindowGroupLimit) instead of sorting N x 10 rows globally
    text = explain_str(_Q["sm11_knn_classify"](spark, SF))
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "WindowGroupLimit" in text
    assert "SortMergeJoin" not in text


def test_dd11_source_overlap_no_text_in_exchange(spark):
    # fp self-join shuffles (source, 16-byte md5) pairs only
    import re

    text = explain_str(_Q["dd11_source_overlap"](spark, SF))
    exchanges = re.findall(r"\(\d+\) Exchange[^(]*Input \[\d+\]: \[([^\]]*)\]", text)
    assert exchanges, text
    for cols in exchanges:
        assert "text" not in cols.split(", "), cols


def test_tx17_bpe_pairs_topk_no_global_sort(spark):
    # top-20 pairs via TakeOrderedAndProject (partial top-k per partition);
    # the count aggregation partial-aggregates before its exchange
    text = explain_str(_Q["tx17_bpe_pair_freq"](spark, SF))
    assert "TakeOrderedAndProject" in text
    assert "partial_count" in text or "HashAggregate" in text


def test_b27_full_outer_preaggregates_before_join(spark):
    # both sides reduce to one row per key before the join: the plan has a
    # FullOuter sort-merge join fed by partial-aggregated counts, and the
    # month filters reach the scans
    df = _Q["b27_full_outer_join"](spark, SF)
    text = explain_str(df)
    assert "FullOuter" in text
    assert "partial_count" in text  # pre-agg upstream of the join
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_x38_cap_sample_broadcasts_rates_never_reads_text(spark):
    # the per-source rate table broadcasts against the corpus scan and the
    # wide text column is never read (scan-bound plan)
    df = _Q["x38_source_cap_sample"](spark, SF)
    assert has_broadcast_join(df)
    assert "text" not in read_schema(df)


def test_ts19_profile_broadcast_group_limit(spark):
    # the 24-row-per-type seasonal profile broadcasts back to the hourly
    # frame; top-3 residual rank prunes partially before the exchange
    text = explain_str(_Q["ts19_seasonal_residual"](spark, SF))
    assert "BroadcastHashJoin" in text
    assert "WindowGroupLimit" in text


def test_tx20_bigram_model_broadcasts(spark):
    # the alphabet²-bounded bigram model and its total join broadcast; the
    # doc-keyed aggregation partial-aggregates map-side
    text = explain_str(_Q["tx20_bigram_perplexity"](spark, SF))
    assert "BroadcastHashJoin" in text
    assert "partial_count" in text


def test_x39_robust_stats_broadcasts_quantile_tables(spark):
    # both per-type quantile tables (median/p01/p99, then MAD) broadcast
    # back against the fact — never a sort-merge join on the event stream
    text = explain_str(_Q["x39_robust_stats"](spark, SF))
    assert text.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in text


def test_x40_cooccurrence_broadcasts_item_tables(spark):
    # the item-count and basket-count tables broadcast; the only big joins
    # key on the basket id (co-partitioned self-join), never a cartesian
    text = explain_str(_Q["x40_cooccurrence_lift"](spark, SF))
    assert "BroadcastHashJoin" in text or "BroadcastNestedLoopJoin" in text
    assert "CartesianProduct" not in text


def test_x41_conversion_lag_single_fact_pass(spark):
    # both first-touch timestamps come from ONE conditional-MIN pass: the
    # events fact is scanned exactly once
    text = explain_str(_Q["x41_conversion_lag"](spark, SF))
    assert text.count("events.parquet") == 1, text


def test_sm12_embedding_health_partial_aggregates(spark):
    # the per-dimension stats partial-aggregate map-side; the exchange
    # carries |dims| partial states, and no join appears anywhere
    text = explain_str(_Q["sm12_embedding_health"](spark, SF))
    assert "partial_avg" in text or "partial_min" in text or "HashAggregate" in text
    assert "Join" not in text


def test_tx21_word_dropout_map_only(spark):
    # augmentation is scan-tier: no exchange, no join, minimal read schema
    import re

    df = _Q["tx21_word_dropout"](spark, SF)
    text = explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 0, text
    assert "Join" not in text
    assert set(read_schema(df)) == {"doc_id", "text"}


def test_x43_recursive_cte_uses_union_loop(spark):
    # the recursion lowers to Spark's loop operator (not an unrolled plan),
    # and the payload join against part happens once, after the loop
    text = explain_str(_Q["x43_recursive_hierarchy"](spark, SF))
    assert "UnionLoop" in text or "CTERepeatable" in text or "Recursion" in text, text


def test_x44_audit_scans_each_table_bounded_times(spark):
    # the 9-row report must NOT re-scan per union branch: orders appears in
    # its conditional-agg pass + the two referential checks (<= 3 scans),
    # lineitem in its pass + the fk probe (<= 2); the customer parent-key
    # check broadcasts
    df = _Q["x44_data_quality_audit"](spark, SF)
    text = explain_str(df)
    assert text.count("orders.parquet") <= 3, text
    assert text.count("lineitem.parquet") <= 2, text
    assert has_broadcast_join(df)


def test_tx22_boilerplate_reads_only_id_and_text(spark):
    # chunk expansion happens after a 2-column pruned scan; the frequency
    # exchange carries md5 chunk keys (chunk_key), never raw text
    df = _Q["tx22_boilerplate_removal"](spark, SF)
    assert set(read_schema(df)) == {"doc_id", "text"}
    assert "Join" in explain_str(df)


def test_tx23_topk_cutoffs_without_vocab_sort(spark):
    # only the top-max(ks)=16 words can contribute to a coverage cutoff:
    # they arrive via TakeOrderedAndProject (per-partition top-k) and rank
    # by broadcast triangular join — NO Window node anywhere (the round-5
    # full-vocab row_number was a single-partition sort of 10^8+ rows at
    # web scale)
    text = explain_str(_Q["tx23_vocab_coverage"](spark, SF))
    assert "TakeOrderedAndProject" in text, text
    assert "Window" not in text, text
    assert "Generate" in text  # the token explode feeds the agg


def test_tx24_textrank_iterations_are_graph_sized(spark):
    # the 5 power iterations must reference the CACHED transition table
    # (InMemoryTableScan), not re-run the corpus self-join: an uncached
    # plan shows ~44 documents.parquet scans, the cached one <= 4 (the
    # two self-join sides echoed inside the InMemoryRelation description)
    text = explain_str(_Q["tx24_textrank_keywords"](spark, SF))
    assert "InMemoryTableScan" in text
    assert text.count("documents.parquet") <= 4, text


def test_dd13_weights_shuffle_hashes_not_text(spark):
    # both duplication signals key on md5 output; document text must not
    # appear in any exchange's output schema
    df = _Q["dd13_soft_dedup_weights"](spark, SF)
    text = explain_str(df)
    import re

    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) )", text, re.S):
        assert "text#" not in m.group(0), m.group(0)


def test_mm05_pairing_never_reads_payload(spark):
    # the audit joins id columns; neither text nor the embedding payload
    # may survive into the join schema (size() prunes to a scalar)
    df = _Q["mm05_pairing_audit"](spark, SF)
    assert "text" not in read_schema(df)


def test_ts20_single_user_exchange(spark):
    # lag gaps, count, last-seen and the median all compute under ONE
    # user_id exchange; the horizon is a broadcast scalar
    text = explain_str(_Q["ts20_churn_gaps"](spark, SF))
    import re

    big = [
        m.group(0)
        for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n[^\n]*", text)
        if "SinglePartition" not in m.group(0)
    ]
    assert len(big) <= 2, text  # one for the window pass, one for the agg


def test_ts24_interval_union_single_user_exchange(spark):
    # the interval sweep (cummax flag, group numbering, span agg) must all
    # run under one user_id exchange — no join anywhere
    text = explain_str(_Q["ts24_active_time"](spark, SF))
    assert "Join" not in text
    import re

    ex = [m.group(0) for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n[^\n]*", text)]
    non_single = [e for e in ex if "SinglePartition" not in e]
    assert len(non_single) <= 2, text  # window pass + final agg reuse


def test_x53_rfm_windows_sort_users_not_orders(spark):
    # the three ntile windows run AFTER the customer-level aggregation;
    # the orders fact feeds exactly two scans (the scalar horizon and the
    # per-customer reduction — at scale the horizon is a metadata-only
    # max under parquet aggregate pushdown)
    text = explain_str(_Q["x53_rfm_segments"](spark, SF))
    assert text.count("orders.parquet") <= 2, text
    assert "Window" in text


def test_ts29_survival_runs_on_calendar_frame(spark):
    # the KM estimator's windows evaluate on the day-level frame; the
    # events fact feeds exactly two scans (horizon + the user reduction)
    text = explain_str(_Q["ts29_survival_curve"](spark, SF))
    assert text.count("events.parquet") <= 2, text


def test_dd16_bow_exchange_carries_hashes_not_text(spark):
    # the canonical-key aggregation must shuffle md5 output, never text
    import re

    text = explain_str(_Q["dd16_bow_dedup"](spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) )", text, re.S):
        assert "text#" not in m.group(0), m.group(0)


def test_dd14_verify_filters_candidates_before_aggregate(spark):
    # the verify tier must intersect with the candidate-pair set BEFORE
    # the intersection-count aggregate: the physical plan's broadcast
    # pair-filter join has a HashAggregate for the nc count ABOVE it,
    # not below — so the verify exchange carries candidate pairs only.
    text = explain_str(_Q["dd14_prefix_filter_join"](spark, SF))
    import re

    # locate the count aggregate over (doc_a, doc_b) and the last
    # broadcast join below it in the formatted tree: in formatted output
    # operator ids increase downward (leaves have higher ids), so the
    # aggregate's id must be SMALLER than some BroadcastHashJoin id that
    # feeds it through the nc-count path.
    agg_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) HashAggregate", text)
        if "count" in text
    ]
    bj_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) BroadcastHashJoin", text)]
    assert agg_ids and bj_ids
    # at least one broadcast join sits below (higher id than) the nc
    # aggregate — the pair filter feeding the count
    assert any(b > min(agg_ids) for b in bj_ids), text


def test_dd21_precedence_shuffles_hashes_not_text(spark):
    # both window passes and the rollup key on the md5 fingerprint; the
    # document text must never enter an exchange
    import re

    text = explain_str(_Q["dd21_source_precedence_dedup"](spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) )", text, re.S):
        assert "text#" not in m.group(0), m.group(0)


def test_sm16_codebook_broadcasts_single_vec_exchange(spark):
    # the 128-row codebook must broadcast (never shuffle the corpus
    # against it) and the whole encode runs under few hash exchanges
    import re

    df = _Q["sm16_pq_quantize"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) <= 2, text


def test_tx29_charset_is_map_side_single_exchange(spark):
    # four regexp counts are map-side expressions; only the per-source
    # aggregate exchanges, and it carries ratios, not text
    import re

    text = explain_str(_Q["tx29_charset_profile"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) == 1, text
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) )", text, re.S):
        assert "text#" not in m.group(0), m.group(0)


def test_ts36_medians_run_on_daily_frame(spark):
    # the MAD passes aggregate the (type, day) frame — the events fact
    # feeds exactly one scan tree (Spark may re-scan for the self-join,
    # but counts collapse before any join)
    text = explain_str(_Q["ts36_mad_anomaly"](spark, SF))
    assert text.count("events.parquet") <= 3, text


def test_executed_plan_metrics_show_mapside_combine(spark):
    # plan-shape tests say what SHOULD happen; executed metrics say what
    # DID: b03's partial aggregation means the exchange carries GROUP
    # states (6 rows), not the 60k lineitem rows, and the map-only b01
    # shuffles nothing at all.
    from pyconnect_spark.plans import execute_with_metrics

    n, m = execute_with_metrics(_Q["b03_tpch_q1"](spark, SF))
    assert n == 6
    assert 0 < m["shuffleRecordsWritten"] <= 12  # partial-agg states only
    assert m["shuffleBytesWritten"] < 100_000
    n1, m1 = execute_with_metrics(_Q["b01_filter_project"](spark, SF))
    assert n1 > 0 and m1["shuffleRecordsWritten"] == 0  # map-only: no exchange


def test_mm07_exchanges_carry_hashes_not_payloads(spark):
    # the pHash band join must shuffle (band, 15-bit key, 8-byte phash):
    # neither the text column nor frame md5 strings may survive into any
    # exchange's output schema
    import re

    text = explain_str(_Q["mm07_phash_neardup"](spark, SF))
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) )", text, re.S):
        assert "text#" not in m.group(0), m.group(0)
        assert "frame_md5#" not in m.group(0), m.group(0)


def test_dd25_islands_window_no_global_sort(spark):
    # the islands row_number partitions per (pair, diagonal); a global
    # Sort (no partitioning) would be the scale-killer
    text = explain_str(_Q["dd25_exact_substring_spans"](spark, SF))
    import re

    for m in re.finditer(r"\(\d+\) Sort\b.*?(?=\(\d+\) )", text, re.S):
        # every Sort must be a partial (within-partition) sort for the
        # window, never a global ordering
        assert "false" in m.group(0).lower() or "local" in m.group(0).lower(), m.group(0)
    assert "rangepartitioning" not in text.lower(), "global sort present"


def test_dd23_rate_table_broadcasts(spark):
    # the |sources|-row rate table must broadcast back onto the doc leg —
    # a shuffle join on source would move the corpus
    assert has_broadcast_join(_Q["dd23_temperature_mixing"](spark, SF))


def test_b28_nullsafe_single_shuffle_join(spark):
    # eqNullSafe must compile to the same shuffle/broadcast hash join as
    # plain equality, not a nested-loop cartesian
    text = explain_str(_Q["b28_nullsafe_join"](spark, SF))
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


def test_tx32_corpus_read_once_per_iteration_guard(spark):
    # the BPE loop must aggregate the word-shape table, never re-explode
    # the corpus: the final returned frame is the local merge table, and
    # the wordfreq builder's plan reads only (text) from documents
    from pyconnect_spark.operators.text import tx32

    df = tx32(spark, SF)
    # result is a driver-local merge table (no file scan at all)
    assert "documents.parquet" not in explain_str(df)


def test_x64_transition_agg_is_combiner_shrunk(spark):
    # x64's distributed leg must reduce to the (from, to) count table —
    # raw event rows (props/value columns) may not survive into any
    # exchange feeding the final aggregation
    import re

    from pyconnect_spark.operators.extended import x64

    text = explain_str(x64(spark, SF))
    # result is a driver-local attribution table; the journey scan jobs
    # already ran during build, so the returned plan must be local
    assert "LocalTableScan" in text or "documents.parquet" not in text


def test_x65_theta_scalar_broadcasts(spark):
    # CUPED's pooled theta is one row; it must broadcast back onto the
    # per-user frame, never shuffle it
    assert has_broadcast_join(_Q["x65_cuped_ab_lift"](spark, SF))


def test_ts41_ts42_single_fact_exchange(spark):
    # both diagnostics roll the fact up to (type, day) once; no plan may
    # scan events.parquet more than twice (self-join-free decomposition)
    for name in ("ts41_forecast_backtest", "ts42_forecastability_strength"):
        text = explain_str(_Q[name](spark, SF))
        assert text.count("events.parquet") <= 2, name


def test_sm21_truth_restricted_to_probe_queries(spark):
    # the quadratic ground-truth tier must filter to the 5 probe queries
    # BEFORE the corpus join: vec_id < 5 must appear as a pushed filter
    df = _Q["sm21_ivf_tuning_curve"](spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "vec_id" in pf and ("LessThan" in pf or "lt" in pf.lower()), pf


def test_no_unpartitioned_window_in_any_declared_query(spark):
    """THE round-6 scale invariant: no declared query's optimized plan may
    contain a Window/WindowGroupLimit with an empty partition spec — each
    one is a whole-frame single-task sort at execution time. Global
    ranks/ntiles/cumsums go through rankops (distributed two-pass) or
    TakeOrdered+rank_small_frame; grand totals through broadcast scalars.
    Plan-only (no execution), so the full surface checks in one test."""
    from pyconnect_spark.plans import unpartitioned_windows

    offenders = {}
    for name, fn in _Q.items():
        nodes = unpartitioned_windows(fn(spark, SF))
        if nodes:
            offenders[name] = nodes[0][:120]
    assert not offenders, offenders


def test_tx35_gram_explode_no_self_join(spark):
    # 2-grams come from slice+transform over the split array — the plan
    # must carry no join at all (a shingle self-join would be quadratic)
    text = explain_str(_Q["tx35_repetition_profile"](spark, SF))
    assert "Join" not in text
    assert "CartesianProduct" not in text


def test_ts45_forward_asof_single_union_window(spark):
    # the forward as-of is ONE union + ONE partitioned window on the user
    # key — no range cross-join, no per-order probe join
    text = explain_str(_Q["ts45_asof_forward_tolerance"](spark, SF))
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "Union" in text and "Window" in text


def test_sm23_pair_stage_is_arrow_not_nested_loop(spark):
    # the hubness pair stage must be the Arrow matmul (MapInPandas), not
    # a JVM nested-loop over 4M pairs. (The plan's one
    # BroadcastNestedLoopJoin is the 1-row x 1-row scalar attach of the
    # hub id to the summary — a Cross of two aggregates, not the pair
    # stage.)
    text = explain_str(_Q["sm23_hubness_audit"](spark, SF))
    assert "MapInPandas" in text
    assert text.count("BroadcastNestedLoopJoin Cross") <= 1  # only the scalar attach


def test_dd27_membership_join_on_fingerprints(spark):
    # the index side must reduce to a distinct over fingerprints before
    # the membership join — document text never reaches the join
    from pyconnect_spark.plans import read_schema

    df = _Q["dd27_incremental_dedup"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "HashAggregate" in text  # the fp distinct + the source rollup


def test_x69_topk_without_global_sort(spark):
    text = explain_str(_Q["x69_return_rate_outliers"](spark, SF))
    assert "TakeOrderedAndProject" in text
    assert has_broadcast_join(_Q["x69_return_rate_outliers"](spark, SF))


def test_mm09_payload_bytes_never_shuffle(spark):
    # only (doc_id, source, n) survive to the fold — the text/payload
    # column must not appear past the scan projection
    df = _Q["mm09_shard_packing"](spark, SF)
    cols = read_schema(df)
    assert set(cols) == {"doc_id", "source", "text"}
    text = explain_str(df)
    # one exchange: the per-source collect_list agg
    assert text.count("Exchange hashpartitioning") <= 2


def test_sm25_centroids_broadcast_corpus_not_cross_shuffled(spark):
    # both Lloyd assignment passes must broadcast the k-row centroid
    # table (BroadcastNestedLoopJoin on the crossJoin); the corpus side
    # only exchanges on vec_id for the argmin windows and cluster/dim
    # for the update agg — never a CartesianProduct
    text = explain_str(_Q["sm25_kmeans_lloyd"](spark, SF))
    assert "CartesianProduct" not in text
    assert text.count("BroadcastNestedLoopJoin") >= 2, text


def test_tx39_tercile_is_rankops_not_source_window(spark):
    # the per-source tercile must come from the distributed rank pass
    # (rankops range-partition + per-source offsets), never an ntile
    # window partitioned only by source (single task per source at
    # scale); the corpus LM joins stay equi-joins on gram
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx39_ccnet_buckets"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    # ntile_from_rank is pure arithmetic on the exact rank — the ntile
    # window function must not appear anywhere in the physical plan
    assert "ntile(" not in text, text


def test_tx40_ratio_table_broadcasts_topk_takeordered(spark):
    # the 1024-bucket log-ratio table must broadcast onto the doc
    # stream and the final top-20 must be TakeOrdered (per-partition
    # heaps), never a global sort
    df = _Q["tx40_dsir_selection"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in text
    assert "CartesianProduct" not in text


def test_dd29_seed_table_broadcasts_single_cell_exchange(spark):
    # the 8-row seed quantizer broadcasts onto the embeddings; beyond the
    # per-vector argmax window, the only wide exchange is the cell-keyed
    # rank window — embeddings never cartesian-join
    import re

    df = _Q["dd29_cluster_balanced_sample"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert len(re.findall(r"\(\d+\) Exchange\b", text)) <= 4, text


def test_ts48_prefix_sum_is_rankops_not_global_window(spark):
    # the sweep-line running sum must come from the range-partitioned
    # cumsum (broadcast offsets), never an unpartitioned window over the
    # whole delta stream
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts48_concurrency_peaks"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text


def test_sm26_two_takeordered_passes_no_global_window(spark):
    # both retrieval passes must be TakeOrdered (corpus never globally
    # sorts) and the final rank comes from the triangular small-frame
    # join, not a window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm26_rocchio_prf"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert text.count("TakeOrderedAndProject") >= 2, text


def test_sm27_pruning_admissible_and_takeordered(spark):
    # both MIPS passes must be TakeOrdered broadcast-query scans (no
    # corpus shuffle, no cartesian); the norm-bound filter must sit in
    # the plan (a Filter referencing the broadcast threshold)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm27_mips_norm_pruned"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert text.count("TakeOrderedAndProject") >= 2, text
    assert "norm_bound" in text  # bound filter evaluated in-plan


def test_sm28_per_probe_takeordered_no_global_window(spark):
    # each of the 5 probe passes is a broadcast-query TakeOrdered scan;
    # ranks come from the triangular small-frame join on proven-3-row
    # slices — no window anywhere, partitioned or not
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm28_hard_negative_mining"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert text.count("TakeOrderedAndProject") >= 5, text


def test_tx41_model_broadcasts_argmax_partitioned_by_doc(spark):
    # the (<=512 x classes) likelihood grid and the priors broadcast
    # onto the (doc, bucket) stream; the argmax window partitions by
    # doc_id (never unpartitioned); no cartesian anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx41_nb_source_classifier"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)


def test_dd30_eval_side_broadcasts_corpus_never_shuffles(spark):
    # the eval split must broadcast (BroadcastNestedLoopJoin under the
    # cosine-threshold condition); the train corpus is scanned map-only
    # with only the tiny hit/label frames exchanging
    df = _Q["dd30_semantic_decontamination"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" in text, text


def test_x71_fifo_join_copartitions_on_partkey(spark):
    # the interval-overlap join must key on l_partkey (equi-join with
    # range residuals), never a cartesian; cumsum windows partition by
    # part
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x71_fifo_return_matching"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "TakeOrderedAndProject" in text, text


def test_ts49_band_pass_runs_on_day_grain(spark):
    # both windows are partitioned (close extraction by (type, day),
    # bands by type over day-grain rows); no global window, no cartesian
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts49_bollinger_bands"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_tx42_probe_join_ships_digests_not_text(spark):
    # the train/eval probe join must key on the md5 digest column; the
    # exchange before the join carries the 32-hex digest, not raw text
    df = _Q["tx42_ngram_novelty_rate"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "md5" in text  # digests computed below the join


def test_ts50_single_cumsum_pass_with_broadcast_totals(spark):
    # the per-split SSE must come from ONE partitioned cumsum window
    # plus a broadcast per-type totals join — never a per-split rescan
    # or an unpartitioned window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts50_changepoint_binseg"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)


def test_x72_pair_agg_combines_and_count_tables_broadcast(spark):
    # the basket self-join keys on basket (equi-join); the item count
    # tables broadcast onto the pair frame; the top-20 is TakeOrdered
    df = _Q["x72_association_rules"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "TakeOrderedAndProject" in text, text
    assert has_broadcast_join(df)


def test_x73_block_join_copartitions_no_cartesian(spark):
    # the candidate join must key on the block (equi-join with the
    # id-order residual), never a cartesian; top-20 is TakeOrdered
    df = _Q["x73_er_blocking_audit"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "TakeOrderedAndProject" in text, text
    assert "levenshtein" in text  # verify metric stays JVM-side


def test_tx43_single_scan_feeds_whole_grid(spark):
    # the 8-combo ablation must read documents ONCE (one FileScan of
    # documents) — the combo table broadcasts and explodes map-side
    df = _Q["tx43_filter_ablation_grid"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    import re

    scans = re.findall(r"FileScan parquet[^\n]*documents", text)
    assert len(scans) <= 2, text  # grid pass + the totals reuse


def test_ts51_sufficient_stats_single_agg_broadcast_spans(spark):
    # OLS coefficients must come from one (type, segment) agg of exact
    # sufficient statistics with the span table broadcast — no
    # per-candidate rescan, no unpartitioned window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts51_interrupted_time_series"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)


def test_sm29_weight_vector_broadcasts_scoring_map_only(spark):
    # the d-row weight fold must broadcast (array + scalar) onto the
    # scoring pass; the corpus never cartesian-joins or globally sorts
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm29_diag_lda_probe"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text


def test_sm30_rank_partitions_by_vec_mutuality_equijoin(spark):
    # the top-1 stage must be the Arrow broadcast-matmul (MapInPandas,
    # sm23's donor pattern), never the interpreted all-pairs theta-join
    # (benched >20 min at 10x); the mutuality check stays a (src,dst)-
    # keyed equi-join (SortMerge/BroadcastHash, no nested loop), and
    # there is no window at all — argmax happens inside the batch
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm30_reciprocal_nn_pairs"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" in text
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert not unpartitioned_windows(df)


def test_x74_month_overlap_no_day_explode(spark):
    # occupancy must come from month-grain overlap arithmetic: the only
    # explode is the per-order month sequence, never per-day rows
    df = _Q["x74_littles_law_audit"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "month" in text.lower()
    # one generate (month sequence); a day-grain explode would add more
    assert text.count("Generate explode") <= 1, text


def test_sm31_greedy_steps_broadcast_seeds_takeordered(spark):
    # each greedy step broadcasts the <=k chosen rows and ends in
    # TakeOrdered(1); no cartesian on the corpus, no global window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm31_farthest_first_coreset"](spark, SF)
    assert not unpartitioned_windows(df)


def test_x75_expansion_is_map_side_32_group_agg(spark):
    # the resample grid must broadcast (map-side x32 expansion); the only
    # wide exchange carries 32 groups; the final order stats run on a
    # 32-row frame (allowlisted tiny window)
    df = _Q["x75_poisson_bootstrap_ci"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text


def test_ts52_peak_pass_on_day_grain_partitioned_windows(spark):
    # lag/lead and the rolling-median frame must all partition by
    # event_type; top-20 is TakeOrdered; only the rollup sees raw events
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts52_peak_prominence"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "TakeOrderedAndProject" in text, text


def test_x76_post_agg_frames_are_kb_sized(spark):
    # after the (source, lang) combiner agg everything is margin-table
    # sized; no cartesian on the fact, no window at all
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x76_chi_square_independence"](spark, SF)
    assert not unpartitioned_windows(df)


def test_x77_ecdf_is_rankops_not_global_window(spark):
    # the two running counts must come from rankops' range-partitioned
    # cumsum — never an unpartitioned running-sum window over the
    # pooled value grid
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x77_ks_two_sample"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text


def test_x78_single_combiner_agg_feeds_closed_forms(spark):
    # one pass over the fact into k rows; everything after is arithmetic
    # on broadcast scalars — no window, no cartesian on the fact
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x78_anova_oneway"](spark, SF)
    assert not unpartitioned_windows(df)


def test_mm10_quota_rank_keys_on_bucket_payloads_never_shuffle(spark):
    # the quota rank window partitions by bucket; the exchange carries
    # (bucket, doc_id) pairs only — the binary payload column must be
    # pruned out before any exchange
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["mm10_aspect_quota_sample"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    import re

    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", text):
        assert "payload" not in m.group(0)


def test_tx44_one_corpus_pass_eight_row_fit(spark):
    # the gram explode feeds both the unit-min agg and the prefix token
    # counts; the grid/fit frames are 8 rows; no window, no cartesian
    # on the fact
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx44_heaps_law"](spark, SF)
    assert not unpartitioned_windows(df)


def test_x79_two_row_sufficient_stats(spark):
    # one combiner pass into 2 group rows; closed forms after — no
    # window, no cartesian on the fact
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x79_welch_t_test"](spark, SF)
    assert not unpartitioned_windows(df)


def test_x80_rank_sum_is_rankops_integer_fold(spark):
    # the pooled cumulative count must come from rankops' cumsum; the
    # rank sum folds in integers (no floating rank column anywhere)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x80_mann_whitney_u"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text


def test_ts53_rollup_feeds_broadcast_stat_tables(spark):
    # one day rollup; per-type stat frames broadcast back; the only
    # window is the per-type lag
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts53_anomaly_ensemble"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)


def test_tx45_single_scan_one_row_card(spark):
    # the card is one global agg + a |sources|-row top-1; no window,
    # no cartesian on the fact
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx45_data_card"](spark, SF)
    assert not unpartitioned_windows(df)


def test_sm32_four_broadcast_passes_no_window(spark):
    # each truncation tier is a broadcast-query TakeOrdered pass; the
    # overlap joins run on 5-row frames; no window anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm32_matryoshka_recall"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text


def test_tx46_mask_plan_is_integer_md5_arithmetic(spark):
    # the span plan is one token-count scan + bounded explodes + a
    # source agg; no window, no cartesian, no RNG anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx46_span_corruption_plan"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "rand" not in text.lower().replace("operand", "")


def test_dd32_manifest_inherits_dd05_shapes(spark):
    # fingerprint agg on 16-byte keys; near tier runs on the exact-rep
    # slice only; no cartesian, no unpartitioned window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd32_dedup_manifest"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_ts54_single_daily_exchange_partitioned_lags(spark):
    # ten lags must come from ONE window pass partitioned by type over the
    # day-grain rollup; the per-type mean attaches as a broadcast join
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts54_ljung_box_whiteness"](spark, SF)
    text = explain_str(df)
    assert not unpartitioned_windows(df)
    assert text.count("Window") <= 2  # one logical window pass (AQE may reprint)
    assert has_broadcast_join(df)


def test_sm33_levels_filter_one_candidate_frame(spark):
    # the four probe levels must be filters over ONE candidate-cosine
    # frame (shared via localCheckpoint), never four index scans; all
    # rank windows partition by (level, query)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm33_probe_recall_curve"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    # candidate frame is checkpoint-pinned: the plan reads the RDD scan,
    # not a re-derived seed-quantizer chain per level
    assert "Scan ExistingRDD" in text


def test_dd33_fingerprint_grain_no_cartesian(spark):
    # split assignment must ride dd32's fingerprint/cluster machinery:
    # no cartesian products, no unpartitioned windows; document text
    # reaches only the shingle explode, never a pair join
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd33_leakage_safe_splits"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_mm11_decode_is_arrow_no_shuffle_of_payload(spark):
    # the decode stub streams Arrow batches (MapInPandas); the plan has
    # no Window at all and the only exchange is the per-source agg of
    # fixed-width ints — payload bytes never shuffle
    df = _Q["mm11_resize_plan"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" in text
    assert "Window" not in text


def test_tx47_gram_aggs_takeordered_no_global_sort(spark):
    # PMI top-20: partial (map-side) gram counts + TakeOrderedAndProject;
    # scalar totals broadcast; never a global sort of the bigram table
    text = explain_str(_Q["tx47_collocations_pmi"](spark, SF))
    assert "TakeOrderedAndProject" in text
    assert "partial_count" in text
    assert "Window" not in text


def test_ts55_calendar_frames_after_daily_rollup(spark):
    # everything after the daily rollup is calendar-sized: the lag table
    # broadcasts, the best-lag window partitions by pair
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts55_lead_lag_xcorr"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_x81_band_join_is_custkey_equi(spark):
    # the band predicates ride INSIDE a custkey-keyed equi-join — the plan
    # must show a hash/sort-merge join, never a nested loop over orders
    df = _Q["x81_duplicate_payment_audit"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "TakeOrderedAndProject" in text


def test_ts56_pair_join_after_daily_rollup(spark):
    # the O(days^2) slope join must consume the day-grain rollup (the
    # only corpus-scale exchange); rank windows partition by type
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts56_theil_sen_trend"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_dd34_train_side_distinct_before_probe(spark):
    # the train gram side must reduce to a distinct digest set before
    # the membership probe — instances never cross the probe exchange
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd34_split_contamination"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_tx48_map_only_scan_no_explode(spark):
    # readability is ONE map-only text pass: regexp counts, no Generate
    # (explode) and no Window anywhere
    text = explain_str(_Q["tx48_readability_scores"](spark, SF))
    assert "Generate" not in text
    assert "Window" not in text


def test_ts57_windows_partition_by_type(spark):
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts57_classical_decomposition"](spark, SF)
    assert not unpartitioned_windows(df)


def test_x82_no_window_at_all(spark):
    # the month-lag attaches via a calendar-shift self-join — the plan
    # must carry no Window node (the naive lag-over-months shape was a
    # global single-partition window)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x82_revenue_bridge"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "Window" not in explain_str(df)


def test_sm34_d_row_exchange_broadcast_centroid(spark):
    # the centroid must come from the d-row posexplode agg and attach as
    # a broadcast; scoring is one map-only fold pass, no window
    df = _Q["sm34_anisotropy_audit"](spark, SF)
    text = explain_str(df)
    assert "Window" not in text
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text


def test_ts58_rollup_then_calendar_frames(spark):
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts58_hourly_profile"](spark, SF)
    assert not unpartitioned_windows(df)


def test_tx49_takeordered_gram_counts(spark):
    text = explain_str(_Q["tx49_word_burstiness"](spark, SF))
    assert "TakeOrderedAndProject" in text
    assert "partial_count" in text
    assert "Window" not in text


def test_ts59_windows_partition_by_type(spark):
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts59_poisson_fit"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_dd35_one_edge_frame_thresholds_as_filters(spark):
    # the five thresholds must be filters over ONE cached edge frame
    # (InMemoryTableScan), never five shingle re-joins
    df = _Q["dd35_threshold_sensitivity"](spark, SF)
    df.collect()  # populate the cache
    text = explain_str(df)
    assert "InMemoryTableScan" in text or "Scan ExistingRDD" in text
    assert "CartesianProduct" not in text


def test_ts60_windows_partition_by_type(spark):
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts60_runs_test"](spark, SF)
    assert not unpartitioned_windows(df)


def test_tx50_corpus_head_broadcast_source_ranks_partitioned(spark):
    # the corpus top-k must be TakeOrdered + rank_small_frame (no global
    # window); per-source ranks partition by source
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx50_rank_stability"](spark, SF)
    assert not unpartitioned_windows(df)
    text = explain_str(df)
    assert "TakeOrderedAndProject" in text


def test_sm35_two_scans_broadcast_centroid(spark):
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm35_mean_removal_shift"](spark, SF)
    assert not unpartitioned_windows(df)
    assert "CartesianProduct" not in explain_str(df)


def test_sm23b_scale_tier_no_corpus_collect_no_mapinpandas(spark):
    # the SCALE tier of the hubness audit: candidates come from the
    # broadcast-seed IVF join (BroadcastHashJoin on the tiny seed frame,
    # cell-keyed corpus-probe equi-join), windows partition by q_id/
    # vec_id, and there is NO Arrow driver-matrix stage at all — the
    # corpus is never collected (that's sm23's audit grain)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm23b_hubness_scaled"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" not in text
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)
    assert not unpartitioned_windows(df)


def test_sm30b_scale_tier_cell_equijoin_no_allpairs(spark):
    # the SCALE tier of mutual-NN: the candidate join must be the
    # cell-keyed equi-join (the only nested-loop is the deliberate
    # broadcast of the ~sqrt(N)-row seed table inside
    # seed_ivf_cells_frame, the dd12 pattern), the top-1 window
    # partitions by src, the mutuality check stays a (src,dst)
    # equi-join, and no driver-matrix Arrow stage exists
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm30b_reciprocal_nn_scaled"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" not in text
    assert "CartesianProduct" not in text
    assert has_broadcast_join(df)
    assert not unpartitioned_windows(df)


def test_sm36_margin_audit_rides_index_build(spark):
    # the margin audit must add NO new corpus-scale exchange beyond the
    # shared seed-IVF scoring pass: broadcast seed join, vec-partitioned
    # window, cell-sized rollup
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm36_cell_silhouette"](spark, SF)
    assert has_broadcast_join(df)
    assert not unpartitioned_windows(df)
    assert "MapInPandas" not in explain_str(df)


def test_tx51_one_explode_source_partitioned_rank(spark):
    # one token explode -> combiner-shrunk (source, word) counts; the
    # top-100 rank partitions by source; stats agg is |sources| rows
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx51_zipf_slope"](spark, SF)
    text = explain_str(df)
    assert text.count("Generate explode") <= 1
    assert not unpartitioned_windows(df)


def test_ts61_pair_join_after_daily_rollup(spark):
    # the O(days^2) sign join must key on event_type over the daily
    # rollup (calendar frames), never touch raw events twice unshrunk
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts61_mann_kendall"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_x83_priority_partitioned_percentiles(spark):
    # the rank window partitions by priority (5 balanced classes); the
    # lineitem-orders join is an equi-join on orderkey
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x83_ship_lag_sla"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_dd36_inherits_dd05_edge_shapes(spark):
    # edges come from the banded-LSH candidate machinery (band-bucket
    # equi-joins), then two doc_id label joins; no all-pairs anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd36_source_copy_matrix"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_mm12_metadata_scan_no_decode_no_explode(spark):
    # routing plan reads octet_length only: no Arrow decode stage, no
    # explode; one source-partitioned rank window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["mm12_payload_routing_plan"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" not in text
    assert "Generate explode" not in text
    assert not unpartitioned_windows(df)


def test_sm37_levels_filter_one_collision_frame(spark):
    # the four table-count levels must be filters over ONE collision
    # frame (min-table ranks), not four index builds: exactly one
    # corpus-side LSH key evaluation feeds the curve
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm37_lsh_table_curve"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("keys_udf") <= 2  # corpus keys + query keys, never per level


def test_dd37_one_signature_table_levels_as_arithmetic(spark):
    # the three signature sizes must be prefix arithmetic over ONE
    # signature build (never three MinHash pipelines): exactly one
    # shingle-explode chain feeds sig, and levels appear as an inline
    # explode of structs, not repeated scans
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd37_minhash_size_curve"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_x84_global_rank_is_rankops_no_unpartitioned_window(spark):
    # the exact global revenue rank must come from with_global_order
    # (range partition + per-partition row_number + broadcast prefix
    # offsets) — the oracle's OVER () is the semantic spec, never the
    # Spark plan
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x84_revenue_gini"](spark, SF)
    text = explain_str(df)
    assert not unpartitioned_windows(df)
    # the range exchange itself hides behind with_global_order's
    # localCheckpoint (lineage truncation — same as x77/x80's rankops
    # consumers); the no-unpartitioned-window assertion plus the
    # broadcast prefix-offset join is the visible signature
    assert "CartesianProduct" not in text


def test_tx52_reads_metadata_column_only(spark):
    # the tail index must never touch text bytes: the documents scan
    # reads (source, n_chars, doc_id) only; rank partitions by source
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx52_hill_tail_index"](spark, SF)
    assert not unpartitioned_windows(df)
    cols = read_schema(df)
    assert "text" not in cols, cols


def test_ts62_shares_ts57_shapes(spark):
    # strength indices ride the decomposition: one daily rollup, type-
    # partitioned MA/rank windows, calendar-sized aggs
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts62_seasonal_strength"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_tx53_one_bigram_exchange_marginal_from_counts(spark):
    # one token pass into the (source, w1, w2) count; the marginal is a
    # rollup OF THE COUNTS, never a second corpus pass
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx53_bigram_entropy_rate"](spark, SF)
    text = explain_str(df)
    assert text.count("Generate explode") <= 1
    assert not unpartitioned_windows(df)


def test_ts63_running_windows_partition_by_type(spark):
    # PH's cumulative sum and running min are type-partitioned ROWS
    # frames over the daily rollup — no sequential state, no
    # unpartitioned window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts63_page_hinkley"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_dd38_inherits_dd05_edge_shapes(spark):
    # purity rides dd05's candidate/verify/CC machinery: no all-pairs,
    # no unpartitioned window; rollups are cluster-count-sized
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd38_cluster_source_purity"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_ts64_block_windows_partition_by_type_m_block(spark):
    # the R/S walk is a (type, m, block)-partitioned running window over
    # the daily rollup; everything after is |types| x 3 arithmetic
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts64_hurst_rs"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_x85_two_fact_rollups_rankops_cumshare(spark):
    # two part-grain rollups of lineitem are the only corpus-scale
    # exchanges; the ABC cumulative share is rankops (no unpartitioned
    # window); the matrix is a 9-row agg
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x85_abc_xyz_matrix"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_sm38_one_adc_ranking_levels_as_filters(spark):
    # ONE ADC ranking (pinned) carries the depth ranks; the four depths
    # are filters over it — never four PQ pipelines; rank windows
    # partition by (depth, q_id)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm38_rerank_depth_curve"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_x86_one_fact_pass_rankops_cumcount(spark):
    # ONE fact pass to (type, value) grain; the value grid derives from
    # it; the pooled cumulative count is rankops (no unpartitioned
    # window); folds are k-row and 1-row
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x86_kruskal_wallis"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    # exactly one scan of the events fact
    assert text.count("events.parquet") == 1


def test_x87_star_broadcast_rank_via_rankops(spark):
    # nation/customer broadcast onto the fact; the p-value sort rank is
    # rankops over a 25-row frame; the BH cutoff is a broadcast 1-row fold
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x87_fdr_bh_screen"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_ts65_lag_window_partitioned_by_type(spark):
    # the only window is the (event_type)-partitioned lag over the daily
    # rollup; Durbin-Levinson is unrolled arithmetic on a k-row frame
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts65_pacf_yule_walker"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_tx54_single_map_pass_no_text_shuffle(spark):
    # MATTR reduces each doc map-side; only the |sources|-row agg
    # exchanges, and the text column never appears in a shuffle
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx54_mattr_lexical_diversity"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("documents.parquet") == 1


def test_dd39_bitset_broadcasts_onto_probe(spark):
    # the <=1024-row bit set and the A-fingerprint set broadcast; B's
    # probe is map-side — no corpus-vs-corpus shuffle join anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd39_bloom_prefilter_audit"](spark, SF)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in explain_str(df)
    assert not unpartitioned_windows(df)


def test_sm39_one_fused_arrow_corpus_pass(spark):
    # round-10 fusion: ONE mapInPandas corpus scan emits every
    # quantization level's 9-dp cosine (pre-fusion ran 5 interpreted-fold
    # scans); the global rank window is partitioned by bits over the
    # batch-local top-10 candidates, and the overlap joins broadcast
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm39_quantization_recall_curve"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" in text
    assert text.count("embeddings.parquet") == 1
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_ts66_one_partitioned_lag_window(spark):
    # both difference series ride ONE (event_type)-partitioned window
    # over the daily rollup; the VR/z arithmetic is a k-row agg
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts66_variance_ratio"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 1


def test_x88_single_user_grain_exchange(spark):
    # one user-grain combiner agg over the fact; the 8-row mask rollup
    # is checkpoint-pinned (it feeds v0, v1 AND the total fold — an
    # unpinned lineage re-scanned the fact once per consumer), so the
    # fact appears at most once and every downstream join broadcasts
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x88_shapley_attribution"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") <= 1
    assert "Scan ExistingRDD" in text  # the pinned mask rollup


def test_x89_partyear_rollup_copartitioned_selfjoin(spark):
    # one part-year DECIMAL rollup of the fact; the consecutive-year
    # join runs at part-year grain; no window anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x89_price_index_fisher"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_mm13_decode_stub_then_source_agg(spark):
    # framing plan: mapInPandas decode stub -> map-only integer plan ->
    # one |sources|-row agg; payload bytes never shuffle
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["mm13_audio_frame_plan"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" in text
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_ts67_one_lag_window_partitioned(spark):
    # seven lagged copies from ONE (type)-partitioned window; the
    # cumulative Bartlett prefix also partitions by type
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts67_acf_significance"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 1


def test_x90_partgrain_rollup_broadcast_dim(spark):
    # one part-grain combiner agg over the fact; part dimension and the
    # 1-row year count broadcast; no window anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x90_eoq_policy"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("lineitem.parquet") == 2  # demand rollup + year count


def test_tx55_pair_join_on_word_not_cross(spark):
    # ONE token explode -> (source, word) agg; the pair join keys on
    # word (vocab-bounded), never a dense source x vocab cross
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx55_jsd_source_matrix"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    # the (source, word, p) frame is checkpoint-pinned: both pair-join
    # sides read it, so the token explode happens exactly once
    assert text.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_x91_broadcast_dims_no_window(spark):
    # one custkey combiner agg over orders; customer/nation dims and the
    # 1-row grand total broadcast; no window anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x91_theil_inequality"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in text
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    # nation rollup is checkpoint-pinned; orders never re-scans for the
    # grand total
    assert text.count("orders.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_ts68_one_events_scan_no_window(spark):
    # ONE daily combiner agg over events (checkpoint-pinned: grand total
    # and bucket agg share it); the 13x explode runs at day grain
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts68_period_scan"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_dd40_grp_partitioned_windows_only(spark):
    # both row_numbers and the cluster count partition by the 16-byte
    # fingerprint — dd06's cost profile, text never shuffles
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd40_keep_rule_agreement"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_ts69_typed_window_one_events_scan(spark):
    # one daily combiner agg; BOTH lags from one (event_type)-partitioned
    # window; no unpartitioned window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts69_seasonal_naive_backtest"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 1
    # formatted explain names each node twice (tree + details): exactly
    # one Window operator computes both lags
    assert text.count("Window") == 2


def test_tx56_map_only_scan_then_source_agg(spark):
    # regex strip-and-measure is map-only; one |sources|-row combiner agg,
    # no window, no join
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx56_charclass_entropy"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    assert text.count("documents.parquet") == 1


def test_dd41_grp_partitioned_window_then_source_agg(spark):
    # dd06's cost profile: one fingerprint-keyed window shuffle, then the
    # |sources|-row agg; text never shuffles
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["dd41_dup_mass_by_source"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("documents.parquet") == 1


def test_x92_broadcast_orders_no_window(spark):
    # priority is order-grain: orders broadcasts into the lineitem scan,
    # one 5-row combiner agg, no window
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x92_cpk_ship_lag"](spark, SF)
    text = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in text
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    assert text.count("lineitem.parquet") == 1


def test_sm42_qid_partitioned_windows(spark):
    # rank and vote-argmax windows both partition by qid; the all-pairs
    # stage broadcasts the right side (exact audit grain, sm02-bounded)
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm42_knn_label_agreement"](spark, SF)
    text = explain_str(df)
    assert not unpartitioned_windows(df)


def test_mm14_decode_stub_then_source_agg(spark):
    # mm13's framing: mapInPandas decode stub -> map-only integer token
    # plan -> one |sources|-row agg; payload bytes never shuffle
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["mm14_modality_token_budget"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" in text
    assert "CartesianProduct" not in text
    assert "Window" not in text
    assert not unpartitioned_windows(df)


def test_x93_pinned_degree_no_window(spark):
    # degree table checkpoint-pinned (both endpoint joins + node count
    # read it); no window; lineitem scans once into the basket dedup
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x93_degree_assortativity"](spark, SF)
    text = explain_str(df)
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    assert "Scan ExistingRDD" in text


def test_tx57_no_explode_map_only(spark):
    # token arithmetic stays inside the scan (no Generate/explode);
    # one |sources|-row combiner agg
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["tx57_token_artifact_profile"](spark, SF)
    text = explain_str(df)
    assert "Generate" not in text
    assert "Window" not in text
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("documents.parquet") == 1


def test_ts70_pinned_weekly_one_events_scan(spark):
    # the weekly rollup is checkpoint-pinned (centering, totals, type
    # list and left join all read it); events never re-scan
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts70_mix_share_drift"](spark, SF)
    text = explain_str(df)
    assert "Window" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_sm43_label_keyed_join_not_cross(spark):
    # the filter is an equi-join predicate: label-keyed join (broadcast
    # query sample), never a CartesianProduct; rank window partitions by qid
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm43_filtered_topk"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert has_broadcast_join(df)


def test_ts71_integer_gate_typed_window(spark):
    # 2-sigma gate is integer-exact (no sqrt/division in the filter);
    # run grouping window partitions by event_type; events scans once
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts71_anomaly_run_lengths"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_x94_rankops_no_unpartitioned_window(spark):
    # global percentile rank via rankops (range-partition + prefix
    # offsets): exact GLOBAL rank, no unpartitioned WindowExec; the
    # two-type filter pushes into the events scan
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["x94_time_to_convert"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_sm42b_cell_keyed_candidates_no_cross_corpus(spark):
    # the checkpoint-pinned knn frame cuts the visible plan (the
    # cell-keyed candidate join + broadcast seed quantizer live
    # upstream of it — asserted for the shared machinery by sm30b's
    # twin test); downstream: qid-partitioned vote window, no
    # cartesian, no driver-matrix Arrow stage
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm42b_knn_label_scaled"](spark, SF)
    text = explain_str(df)
    assert "MapInPandas" not in text
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert "Scan ExistingRDD" in text


def test_ts72_one_hourly_rollup_typed_windows(spark):
    # hourly rollup checkpoint-pinned (norms + both dot-join sides);
    # argmin rank partitions by event_type; events never re-scan
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["ts72_hourly_profile_stability"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)
    assert text.count("events.parquet") == 0
    assert "Scan ExistingRDD" in text


def test_sm48b_candidate_joins_no_cartesian(spark):
    # the scale tier's only cross join is the broadcast seed-quantizer
    # scoring (BroadcastNestedLoopJoin); candidate generation and
    # scoring are equi-joins on cell / vec ids, every window is
    # partitioned, and no CartesianProduct exists anywhere
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm48b_bitext_margin_scaled"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_io02_aqe_splits_hot_partition(spark, tmp_path):
    # the DECLARED skewed-join query (not a synthetic stand-in) must get
    # its oversized shuffle partition split by AQE once broadcast is off
    # and the skew thresholds are at fixture scale — the zero-code-change
    # skew tier io02's docstring promises (functions/skew.py salting is
    # the explicit fallback); the executed SMJ reports isSkew=true.
    # AQE splits at MAPPER-block granularity, and the sf0.01 fixture is
    # one parquet file = one mapper (unsplittable); stage a 16-file copy
    # so the map side has cluster-like block counts — at 100 TB the scan
    # has thousands of mappers and this is the natural shape.
    d = str(tmp_path / "skewfix")
    spark.read.parquet(f"{SF}/lineitem.parquet").repartition(16).write.parquet(
        str(tmp_path / "skewfix" / "lineitem.parquet")
    )
    spark.read.parquet(f"{SF}/nation.parquet").write.parquet(
        str(tmp_path / "skewfix" / "nation.parquet")
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        df = _Q["io02_skew_hot_key_join"](spark, d)
        rows = df.collect()
        assert len(rows) == 2  # hot + cold tiers
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sm46b_no_pair_grid(spark):
    # the moment-identity tier must contain NO self-join of the corpus:
    # one embeddings scan feeds the per-dim partials, the only cross
    # joins are 1-row broadcast scalars, and windows stay partitioned
    from pyconnect_spark.plans import unpartitioned_windows

    df = _Q["sm46b_class_margin_sums"](spark, SF)
    text = explain_str(df)
    assert "CartesianProduct" not in text
    assert not unpartitioned_windows(df)


def test_io04_predicate_reaches_zordered_scan(spark):
    # the two-column predicate must reach the z-ordered parquet scan as
    # pushed filters — that is the pruning contract the layout rewrite
    # exists for (per-file min/max ranges are pinned tight by
    # test_scale_utils' zorder range test)
    df = _Q["io04_zorder_layout_scan"](spark, SF)
    text = explain_str(df)
    assert "LessThanOrEqual(l_partkey,100)" in text, text[-2000:]
    assert "LessThanOrEqual(l_quantity,10.0)" in text
    assert "CartesianProduct" not in text


def test_io06_compaction_reduces_file_count(spark, tmp_path):
    # the declared compaction query's own staging must show the repair:
    # 64-way fragmentation in, ~per-partition-budget files out, same rows
    import glob as g
    import os

    _Q["io06_compact_small_files"](spark, SF).collect()
    from pyconnect_spark.operators.io_infra import _staging

    base = _staging(spark, "io06", SF)
    count = lambda d: sum(
        1
        for p in g.glob(os.path.join(d, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith(("_", "."))
    )
    n_src, n_dst = count(os.path.join(base, "fragmented")), count(
        os.path.join(base, "compacted")
    )
    assert n_src >= 64 * 3  # 64-way round robin x 3 status dirs
    assert n_dst < n_src / 4, (n_src, n_dst)


def test_io08_partition_filters_prune_directories(spark):
    # the week predicate must land in PartitionFilters (directory-level
    # pruning — unlisted partitions never become tasks), not just as a
    # post-scan filter; and the pruned scan reads only the week's files
    df = _Q["io08_partition_pruned_scan"](spark, SF)
    text = explain_str(df)
    import re

    scan = text[text.find("PartitionFilters"):]
    assert "PartitionFilters" in text, text[-1500:]
    pf = scan[: scan.find("]") + 1]
    assert "event_date" in pf, pf


def test_io09_dynamic_pruning_subquery_in_scan(spark):
    # the DECLARED query (not a synthetic stand-in) must get a
    # dynamicpruning subquery injected into the fact scan's
    # PartitionFilters once the fixture-scale cost heuristics are
    # neutralized — at 100 TB the stock heuristics (broadcast reuse +
    # stats-estimated benefit) fire on their own; fixture tables fall
    # below them (documented in tests/test_scale_utils.py's evidence
    # test, which this declared-builder pin supersedes)
    keys = (
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
    )
    old = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "false")
        spark.conf.set(keys[1], "false")
        spark.conf.set(keys[2], "1000")
        df = _Q["io09_dynamic_partition_pruning"](spark, SF)
        opt = df._jdf.queryExecution().optimizedPlan().toString().lower()
        phys = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "dynamicpruning" in opt or "dynamicpruning" in phys, phys[:3000]
        assert df.count() > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_io10_bucketed_join_has_no_exchange(spark):
    # with broadcast off, the DECLARED bucketed join must plan as a
    # SortMergeJoin whose subtree contains NO Exchange — the on-disk
    # bucket layout satisfies the join's required distribution, so the
    # only shuffles in the whole plan are the post-join aggregation and
    # the final order-by; the scans must actually select buckets
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = _Q["io10_bucketed_colocated_join"](spark, SF)
        # tree-form physical plan: everything after the SortMergeJoin
        # line is its subtree (formatted mode would append node DETAILS
        # for the upstream agg/sort exchanges after the tree and break
        # the containment check)
        text = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in text, text[-2000:]
        below = text[text.find("SortMergeJoin"):]
        assert "Exchange" not in below, below[:3000]
        assert below.count("SelectedBucketsCount: 8 out of 8") == 2, below[:3000]
        assert "Bucketed: true" in below, below[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_io11_bloom_filter_in_probe_scan(spark):
    # the DECLARED query must get a runtime bloom filter injected once
    # the cluster-sized thresholds are lowered to fixture scale:
    # bloom_filter_agg on the dim's join keys, might_contain pushed
    # into the lineitem probe side — the arbitrary-key analog of io09's
    # dynamic partition pruning (stock thresholds need a >10 GB probe
    # scan and fire on their own at 100 TB)
    from pyconnect_spark.session import runtime_filter_conf

    conf = runtime_filter_conf(test_scale=True)
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = _Q["io11_runtime_bloom_join"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan.lower(), plan[:3000]
        assert df.count() == 5
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_io13_salted_join_keys_include_salt(spark):
    # with broadcast off, the DECLARED salted fallback must join on
    # (k, _salt) — the hot key's rows spread across 16 reducers — with
    # the dim side replicated via explode; and its rows must equal
    # io02's (the strategy twin contract)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = _Q["io13_salted_join_fallback"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        smj = plan[plan.find("SortMergeJoin"):]
        assert "SortMergeJoin" in plan, plan[:3000]
        assert "_salt" in smj[: smj.find("\n")], smj[:300]
        assert "Generate explode" in plan or "explode" in plan, plan[:3000]
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, _Q["io02_skew_hot_key_join"](spark, SF).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
