"""Plan-shape tests: the scale contracts of each operator, asserted on
the actual physical plan (SURVEY §4: everything the reference lacked —
pushdown, pruning, broadcast, codegen — must demonstrably happen)."""

import pytest
from pyspark.sql import functions as F

from refluxdb_spark.operators.timeseries import asof_join, moving_agg, sessionize
from refluxdb_spark.plans import (
    assert_broadcast_join,
    assert_no_sort_merge_join,
    assert_pushed_filters,
    assert_read_schema_only,
    assert_single_shuffle,
    assert_wholestage_codegen,
    count_exchanges,
    explain_str,
)
from refluxdb_spark.queries import QUERIES, load


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["tpch_q6_revenue_forecast"](spark, sf_dir)
    assert_pushed_filters(df, "IsNotNull(l_shipdate)", "GreaterThanOrEqual(l_shipdate")
    assert_wholestage_codegen(df)


def test_column_pruning(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    assert_read_schema_only(df, {"l_orderkey", "l_quantity"})


def test_q3_broadcasts_dims(spark, sf_dir):
    df = QUERIES["tpch_q3_shipping_priority"](spark, sf_dir)
    assert_broadcast_join(df, at_least=2)
    assert_no_sort_merge_join(df)


def test_q5_star_join_all_broadcast(spark, sf_dir):
    df = QUERIES["tpch_q5_local_supplier_volume"](spark, sf_dir)
    assert_broadcast_join(df, at_least=4)
    assert_no_sort_merge_join(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    out = asof_join(left, right, ["user_id"], "ts", "r_ts", ["r_ts"])
    assert_single_shuffle(out)


def test_moving_agg_single_shuffle(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = moving_agg(e, "ts", ["user_id"], "value", tiebreak="event_id")
    assert_single_shuffle(out)


def test_sessionize_single_shuffle(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(e, "ts", ["user_id"], tiebreak="event_id")
    assert_single_shuffle(out)


def test_range_scan_prunes_and_pushes(spark, sf_dir):
    df = QUERIES["reflux_range_scan"](spark, sf_dir)
    # the ts filter applies post-conversion (nanos BIGINT -> timestamp),
    # so pushdown lands on the derived column only after Catalyst folds
    # it; assert the scan at least prunes to the projected columns.
    assert_read_schema_only(df, {"event_id", "ts", "event_type", "value"})


def test_subquery_in_plans_semi_join(spark, sf_dir):
    df = QUERIES["subquery_in_filter"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_exchange_budget_of_headline_queries(spark, sf_dir):
    """Shuffle-count budget per headline query — a regression fence:
    if an operator suddenly shuffles more, scale behavior regressed."""
    budgets = {
        "tpch_q1_pricing_summary": 1,
        "tpch_q6_revenue_forecast": 1,
        "reflux_series_stats": 1,
        "ts_time_bucket_rollup": 1,
        "ts_window_moving_avg": 1,
        "ts_asof_join": 1,
        "dedup_exact": 1,
        # r3 additions (budget = measured shape, the fence catches creep):
        "ts_ohlc_candles": 1,       # first/last windows + agg share one exchange
        "ts_value_percentiles": 1,  # single global agg shuffle
        "tpch_q13_customer_distribution": 2,  # two cascaded aggs
        # signature agg + bucket self-join; the bucket relation is
        # persisted (fingerprints computed once, not per join side), so
        # the static plan counts the cache lineage + both join-side
        # hashes — execution pays the lineage once
        "dedup_simhash_pairs": 3,
        "tpch_q15_top_supplier": 3, # revenue agg + max + supplier join
        # r4 additions (budget = measured shape):
        "sample_pack_bins": 2,          # packing window + fill-report agg
        "ts_time_weighted_avg": 1,      # lead window + day agg share the key
        "ts_sliding_window_counts": 1,  # one agg over exploded windows
        "agg_window_rank_functions": 1, # one window sort per series
        "agg_variance_corr_decimal": 1, # single moment aggregation
        "text_length_histogram": 1,     # map-side-combined histogram agg
        "sketch_hll_distinct_users": 4, # 2 sketch + 2 exact-comparison
        "sketch_countmin_heavy_users": 3,
        "sim_ivf_quantized_topk": 3,    # assign agg + probe window + rank
        "text_tfidf_top_terms": 5,      # tf, df, vocab join, N, rank
        "pipeline_corpus_end_to_end": 5,  # quality/dedup/decontam/cap/report
        "ts_asof_join_nearest": 1,  # both direction windows share one exchange
        "ts_resample_locf": 3,      # hourly agg + grid join + fill window
        # r5 additions (budget = measured shape):
        "dedup_simhash_pairs_capped": 5,  # + hot-bucket window in the lineage
        "sample_temperature_mix": 5,      # audit query: rates agg x2 + kept agg
        "dedup_shared_chunks": 3,         # share agg + hash join + per-doc agg
        "events_rolling_7d_actives": 4,   # day-grain distinct + distinct agg pair
        "text_unigram_logprob": 4,        # vocab agg + token join + doc agg
        "text_winnowing_shared": 3,       # fp sharing agg + join + per-doc agg
        "sim_rp_lsh_pairs": 2,            # id-pair distinct; verify joins broadcast
        # r6 TPC-H completion (budget = measured shape):
        "tpch_q2_min_cost_supplier": 2,   # ps agg + per-part window min
        "tpch_q9_product_type_profit": 1, # broadcast dims; one final agg
        "tpch_q11_important_stock": 3,    # part agg + total + threshold join
        "tpch_q16_part_supplier_counts": 2,  # filtered distinct + count-distinct (r11: broadcast filters below the distinct)
        "tpch_q21_waiting_suppliers": 2,     # one repartition(o) serves agg+window; final name agg (r11)
        "tpch_q20_potential_promotion": 3,   # pair agg + qual distinct + semi
        "text_boilerplate_removal": 3,  # span-hash freq + rebuild + id join
        "dedup_semantic_prune": 3,      # assign agg + block join + argmin agg
        "ts_holt_forecast": 1,          # one key shuffle (applyInPandas)
        "ts_lttb_downsample": 1,        # one key shuffle (applyInPandas)
        "ts_integral": 1,               # lead window + agg share series key
        "text_token_entropy": 0,        # pure per-row expressions
        "text_pii_redact": 0,           # pure per-row expressions
        "text_gopher_filter": 1,        # per-row rules + reason agg
        "text_bigram_logprob": 6,       # uni/bi vocab aggs + joins + doc agg
        "affinity_part_pairs": 8,       # basket agg shared by supp/pairs/n
        "ts_cusum_changepoints": 1,     # moments + walk share the series key
        "sim_mmr_topk": 2,              # pool window + per-query walk
        # r6 batch-2 additions (budget = measured shape):
        "ts_state_durations": 1,        # window + state rollup share the key
        "ts_heartbeat_uptime": 1,       # both windows + both aggs on user_id
        "events_path_trigrams": 2,      # user window + trigram count
        "ts_latest_snapshot": 1,        # one row_number on the entity key
        "text_readability": 0,          # pure per-row array arithmetic
        "ts_autocorrelation": 1,        # all lags ride one series window
        "sim_centroid_classify": 3,     # centroid agg x2 + argmax window
        "ts_m4_downsample": 2,          # 4 orderings share the bucket key + distinct
        "events_seasonal_anomaly": 2,   # moment agg + outlier count (broadcast back)
        "text_ngram_novelty": 3,        # gram explode -> 3 combined aggs, pair-free
        "sample_ess_report": 1,         # one moment aggregation
        "skew_salted_join_counts": 1,   # salted spread; dim broadcast; one agg
        "ts_bollinger_bands": 1,        # frame sums ride one series window
        "ts_rsi": 1,                    # lag + frame sums on the same window
        "text_rag_chunks": 0,           # per-row slicing beside the scan
        "pipeline_chunk_dedup": 2,      # fingerprint exchange + per-doc rollup
        "ts_week_over_week": 2,         # weekly agg + week-grain lag
        "text_langid_confusion": 1,     # per-row classifier + one count
        "events_interarrival_stats": 1, # lag window + agg share the series key
        "text_vocab_growth": 2,         # count-distinct expand (two-level)
        "orders_cohort_ltv": 3,         # firsts agg + join-back + cohort rollup
        "sim_hard_negatives": 1,        # queries broadcast; rank window only
        "orders_ship_latency_percentiles": 1,  # order-key join + one agg
        # r6 batch-3 additions (budget = measured shape):
        "orders_gini_revenue": 2,       # customer agg + one global sort
        "dedup_cdc_chunks": 3,          # token window + chunk agg + share agg
        "orders_open_backlog_daily": 4, # spans agg + delta agg + day cumsum
        "sample_mixture_epochs": 3,     # token agg + weight-sum broadcast back
        "events_new_users_daily": 3,    # firsts + day rollup + day cumsum
        "orders_repeat_rate": 2,        # customer agg + global fold
        "ts_seasonality_strength": 3,   # global + per-hour moment aggs
        "sample_curriculum_phases": 1,  # one doc-dimension ntile + rollup
        "ts_ema_per_user": 1,           # repartition(key) + batch walk
        # r6 batch-5 additions (budget = measured shape):
        "sim_ivf_append_topk": 3,       # probe window + rank + pruned scan
        "dedup_source_overlap": 3,      # one-agg LSH + source joins
        "events_column_profile": 2,     # expand distinct (exact path) + final
        "string_fuzzy_title_pairs": 3,  # gram distinct + candidate join + verify
        "events_funnel_windowed": 7,    # 2 frontier join+min rounds + final
        # static count includes the totals' re-walk of the shared pair/
        # unigram lineage; identical exchanges dedupe at runtime
        # (ReusedExchange under AQE)
        "text_pmi_pairs": 9,
        "orders_ship_hazard": 2,        # day histogram + running-sum sort
        "text_feature_hash": 1,         # one (id, bucket) combined agg
        "events_burst_days": 2,         # day histogram + type-keyed window
        "ts_winsorized_stats": 2,       # rank window + clipped-cent agg
        "events_funnel_convert_time": 3,  # 2 frontier rounds + user min
        "sim_pq_adc_topk": 4,             # encode argmin + codes agg + rank
        # static plan re-walks the shared encode lineage for exact+approx
        "sim_pq_recall": 13,
        "sim_ivfpq_topk": 6,  # coarse argmin + residual encode + cell rank
        # eval harness: static plan re-walks the build for exact+approx
        "sim_ivfpq_recall": 17,
        "sim_ivfpq_persisted_topk": 3,  # probe windows + pruned code scan
        "pipeline_vector_end_to_end": 4,  # dedup agg + joins + rank window
        "events_cart_abandonment": 7,     # frontier rounds + two count aggs
        "events_dau_wau_stickiness": 6,   # day-grain distinct + dau/wau aggs
        # static count re-walks the shared degree lineage per reference;
        # identical exchanges dedupe at runtime (ReusedExchange)
        "graph_assortativity_parts": 16,
        "sample_quality_budget": 2,       # total agg broadcast + one window
        "events_session_duration_stats": 2,  # session window + global fold
        # r8 additions (budget = measured shape):
        # capped prune (cell window rides the self-join key: 4) + the
        # audit branch's own assignment agg (2)
        "dedup_semantic_prune_capped": 6,
        # r8 completion: every remaining headline query pinned at its
        # measured count, so the WHOLE bench set is creep-fenced
        # (tests/test_bench_contract.py asserts HEADLINE ⊆ budgets)
        "reflux_range_scan": 0,            # pruned scan + filter only
        "tpch_q3_shipping_priority": 1,    # dims broadcast; one agg
        "tpch_q5_local_supplier_volume": 1,
        "ts_interval_join_error_clicks": 1,
        "tpch_q18_large_volume_orders": 2, # in-subquery agg + final agg
        "tpch_q8_market_share": 1,         # all dims broadcast; one agg
        # one (sig+set+size) agg + final pair distinct; the verify is
        # inline in the bucket join stage, never an exchange
        "dedup_minhash_lsh_pairs": 2,
        # capped posting-list path: ONE token exchange (the df window
        # rides the posting agg's own keys) + sizes + pair agg + size
        # join-backs; static count re-walks the shared posting lineage
        # (ReusedExchange at runtime)
        "dedup_jaccard_pairs_capped": 8,
        # pointer jumping materializes each round via localCheckpoint,
        # so the RETURNED label relation replays no exchange statically
        "dedup_components": 0,
        "text_quality_scores": 0,          # pure per-row expressions
        "sim_cosine_topk": 1,              # rank window on the query key
        "sim_ivf_topk": 3,                 # assign agg + probe + rank
        "sim_ivf_persisted_topk": 3,       # probe windows + pruned scan
        "sample_stratified_documents": 0,  # pure filter beside the scan
        "dedup_decontaminate": 3,          # gram aggs + broadcast semi
        "sim_quantized_topk": 1,           # corpus streams; rank only
        "text_repetition_stats": 0,        # per-row array arithmetic
        "ts_anomaly_zscore": 1,            # moments ride one series key
        "ts_counter_rate": 1,              # lag + rate on one series key
        "sketch_bloom_membership": 4,      # build agg + probe + compare
        "dedup_incremental_pairs": 3,      # batch sigs + pruned index probe
        "sketch_kmv_distinct_users": 4,    # kmv agg + exact pair
        # static count re-walks the shared register lineage for the
        # three sketch/exact branches (ReusedExchange at runtime)
        "sketch_hll_intersection": 9,
        "text_jsd_source_drift": 6,        # per-source vocab aggs + join
        "events_user_behavior_entropy": 4, # user-type agg + entropy fold
        "pipeline_rag_end_to_end": 2,      # chunk fingerprint + rollup
        "events_bot_signals": 7,           # per-signal aggs + user join
        # r16 additions (budget = measured shape):
        "dedup_exact_substr_spans": 3,  # gram agg + hit join + island window
        "text_dup_ngram_chars": 3,      # within-doc gram agg + island + rollup
        # input spread (serial-scan fan-out, r18) + ONE tagged-union
        # count + the (id,n) min-struct winner agg
        "text_top_ngram_fraction": 3,
        # bucket agg + per-doc agg + single-partition rank window; the
        # static count re-walks the shared bucket lineage for dict+scored
        # (ReusedExchange at runtime)
        "sample_dsir_select": 5,
        # one-pass per-doc agg; static count re-walks it for stats+long
        "text_bm25_scores": 5,
        "text_perplexity_buckets": 5,   # vocab agg + LM join + doc agg + ntile
        "mm_audio_stdlib_decode": 0,    # payload build + decode beside the scan
        "mm_png_stdlib_decode": 0,      # PNG build + inflate beside the scan
        "mm_vad_segments": 0,           # WAV build + segmentation beside the scan
        "mm_keyframe_select": 0,        # frame stream decodes beside the scan
        # category agg + totals + psi window; static count re-walks the
        # shared per-type lineage (ReusedExchange at runtime)
        "events_psi_drift": 6,
        "dedup_decontaminate_spans": 2, # bench grams broadcast; island window
        # scatter agg + component window on k-row relations; static
        # count re-walks the shared assignment lineage
        "sim_cluster_db_index": 8,
        # both input rankings re-walk the shared IVF assignment +
        # exact-ranking lineage statically (ReusedExchange at runtime);
        # the fusion itself adds only queries-x-k-sized exchanges
        "sim_rrf_fusion": 11,
        # prefix window + shortlist re-rank window + two broadcast prep
        "sim_matryoshka_topk": 4,
        "graph_harmonic_trade": 1,      # per-round frontiers checkpointed
        # one register-fold agg per materialized depth (states are
        # checkpointed; the trade graph converges by depth ~5) + the
        # node-sized wide join; budget covers max_depth=6 convergence
        "graph_harmonic_hyperball": 12,
        "graph_lin_hyperball": 12,      # same register-growth pass
        # sketch state is k x groups rows; static count re-walks the
        # shared distinct/state lineage across the pair branches and
        # the exact-oracle side (ReusedExchange at runtime)
        "sketch_kmv_jaccard": 20,
        # salt-level window + global k*fanin window + exact-twin
        # window + the est/exact join
        "sketch_quantile_sample": 5,
        # eval harness fused to ONE scoring pass (probe_topk_sweep,
        # r18): the nested candidate sets rank as _probe_rn <= p
        # subsets, so the 4-branch 48-exchange shape collapsed to the
        # shared build + one probe/score + one (nprobe, query) window
        # + the recall join/agg
        "sim_ivf_nprobe_sweep": 9,
        "sample_kcenter_coreset": 0,    # rounds checkpointed; broadcast sel
        "orders_abc_classification": 2, # part agg + part-dim running sum
        # r18 additions (budget = measured shape):
        # compaction rounds + graph build are checkpointed; the static
        # plan sees only the final estimator window + rank joins
        "sketch_kll_quantiles": 6,
        # per-day cells + merged cells checkpointed per round; static
        # plan = estimator window + exact twin + rank joins
        "sketch_kll_merged_days": 11,
        # r18 optimization: the beam traversal is ONE lazy plan (self-
        # loop edges make each hop reference the beam once), so the
        # per-hop distinct + rank-window exchanges are now STATICALLY
        # visible instead of hidden behind 5 sequential eager
        # localCheckpoints — 2 per hop + the entry cut, all on
        # queries x beam rows (trivially small); the graph build
        # stays checkpointed in the inline form
        "sim_hnsw_topk": 10,
        "sim_hnsw_persisted_topk": 9,  # same search core off parquet
        "sim_hnsw_recall": 25,  # + exact brute-force side + hits agg
        # r19 additions (budget = measured shape):
        "text_keyness_llr": 9,          # sv/ns/g/tot aggs + broadcast partials + top-k window
        "text_zipf_fit": 2,             # vocab agg + rank window/stats share
        "ts_sax_symbols": 2,            # frame + moment aggs, broadcast join
        "sketch_kmv_difference": 15,    # two presalted sketch states + exact anti-join gate (all sketch-sized)
        "sample_neyman_allocation": 4,  # stratum agg + totals + seat window
        "sample_neyman_execute": 5,     # allocation + per-stratum rank window
        "ts_seasonal_decompose": 6,     # bucket agg + trend window + seasonal aggs
        "sim_binary_hamming_topk": 1,   # top-k window; queries broadcast onto the code scan
        # input spread (serial-scan fan-out, r18) + replicate agg +
        # band window + overall agg
        "sample_bootstrap_ci": 4,
        "ts_compression_estimate": 1,   # one series key window + rollup share
        # r18 w7: ONE shared per-doc tf aggregation for all 3 queries
        # (rel rides the same stacked rows — the per-query relevance
        # re-tokenize is gone); static count is conservative, runtime
        # ReuseExchange collapses the repeated shared subtree
        "text_bm25_ndcg": 18,
        "ts_ks_two_sample": 6,          # two per-value aggs + full-outer merge + cum window + totals
    }
    for name, budget in budgets.items():
        n = count_exchanges(QUERIES[name](spark, sf_dir))
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both sides on the join key removes every exchange —
    the co-located-join contract for recurring 100 TB joins."""
    import uuid

    from refluxdb_spark.sources.bucketed import bucketed_join, materialize_bucketed

    suffix = uuid.uuid4().hex[:8]
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    materialize_bucketed(orders, f"orders_b_{suffix}", ["o_orderkey"], 8)
    materialize_bucketed(lineitem, f"lineitem_b_{suffix}", ["o_orderkey"], 8)
    joined = bucketed_join(spark, f"orders_b_{suffix}", f"lineitem_b_{suffix}", ["o_orderkey"])
    assert count_exchanges(joined) == 0
    assert joined.count() == lineitem.count()  # FK join preserves fact rows


def test_engine_range_scan_partition_pruned(spark, tmp_path_factory):
    """`FROM <series>` routing over the single measurements table must
    prune to the one series partition — the scan shape that replaces
    the reference's per-series databases (SURVEY §1.5)."""
    from refluxdb_spark.engine import RefluxEngine

    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("wh_prune")))
    eng.write_lines([
        "alpha v=1.0 1700000000000000000",
        "beta v=2.0 1700000000000000000",
    ])
    df = eng.query("SELECT * FROM alpha")
    plan = explain_str(df, "formatted")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "series" in pf[0] and "alpha" in pf[0], plan


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs predicate must decompose: each table's residue
    (brand/size on part, quantity on lineitem) reaches its own parquet
    scan as a pushed filter — at 100 TB this is the difference between
    reading slices of both tables and reading all of both."""
    df = QUERIES["tpch_q19_disjunctive_predicates"](spark, sf_dir)
    s = explain_str(df)
    pushed = [seg[:400] for seg in s.split("PushedFilters:")[1:]]
    assert any("p_brand" in seg and "Or(" in seg for seg in pushed)
    assert any("l_quantity" in seg and "Or(" in seg for seg in pushed)


def test_q18_aggregate_then_broadcast_join(spark, sf_dir):
    """Q18's HAVING aggregation shrinks lineitem to the few big orders
    BEFORE any join, so the join side broadcasts; only the aggregation
    itself shuffles."""
    df = QUERIES["tpch_q18_large_volume_orders"](spark, sf_dir)
    assert_broadcast_join(df)
    assert count_exchanges(df) <= 2


def test_stratified_sample_zero_shuffle(spark, sf_dir):
    """Sampling is a pure filter: scan -> filter, no exchange at any
    scale (reads the corpus exactly once)."""
    df = QUERIES["sample_stratified_documents"](spark, sf_dir)
    assert count_exchanges(df) == 0


def test_interval_join_no_nested_loop(spark, sf_dir):
    """The bucketed interval join must never plan as a nested-loop
    (cartesian) join — the whole point of the bucket equi-key."""
    df = QUERIES["ts_interval_join_error_clicks"](spark, sf_dir)
    s = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_ivf_persisted_probe_partition_pruned(spark, sf_dir):
    """The saved-IVF probe must scan the assignment table with a
    dynamic-partition-pruning filter on centroid_id (the inverted-file
    property: only the nprobe probed buckets are read, not the corpus)."""
    df = QUERIES["sim_ivf_persisted_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assigned_scan = [
        l for l in plan.splitlines() if "FileScan" in l and "/assigned" in l
    ]
    assert assigned_scan, "no scan of the persisted assignment table found"
    assert any("dynamicpruning" in l for l in assigned_scan), (
        "assignment-table scan carries no dynamicpruning partition filter; "
        f"got: {assigned_scan}"
    )


def test_rollup_routed_query_reads_rollup(spark, sf_dir):
    """ts_rollup_routed must be served from the maintained rollup
    table (continuous-aggregate payoff), never the raw measurements —
    scan set contains rollup_1h and no measurements path."""
    df = QUERIES["ts_rollup_routed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert any("rollup_1h" in l for l in scans), f"rollup not read: {scans}"
    assert all("/measurements/" not in l for l in scans), (
        f"routed query still scans the base table: {scans}"
    )


def test_no_cached_rdds_after_dedup_operators(spark, sf_dir):
    """Cache-lifetime contract (VERDICT r5 item 3): pair operators must
    not pin executor memory past their result — run each to completion
    and assert the session holds zero cached RDDs. (The former
    operator-internal persists had no release path and measured a
    wash-or-loss at sf0.1 — SCALE.md, "Retired experiment scripts" —
    so they're gone.)"""
    import refluxdb_spark.operators.dedup as D
    import refluxdb_spark.operators.similarity as S
    from refluxdb_spark.queries import load

    spark.catalog.clearCache()
    # delta-based: other tests' localCheckpoint blocks legitimately
    # outlive them; THESE operators must add nothing to the set
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    D.word_jaccard_pairs(docs, threshold=0.8, shingle=3, max_df=50).count()
    D.minhash_dedup_pairs(docs, num_hashes=16, bands=4, threshold=0.8).count()
    # deprecated flag must ALSO persist nothing (warn + no-op contract)
    with pytest.warns(DeprecationWarning):
        D.minhash_dedup_pairs(docs, threshold=0.8, cache_tokens=True).count()
    D.simhash_pairs(docs, bits=32, chunks=4, max_hamming=3, max_bucket=100).count()
    S.rp_lsh_pairs(emb).count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), f"cached RDDs leaked: {after - before}"


def test_graph_iterators_release_edge_cache(spark):
    """pagerank/bfs_depths/label_propagation persist their (possibly
    derived) edge relation for the loop's lifetime — re-scanning a
    derived edge set per round re-executes its upstream join pipeline
    (measured 17x instead of ~linear at 10x data for the nation-trade
    BFS) — and must RELEASE it on return: the result is eagerly
    checkpointed first, so nothing recomputes through the freed cache."""
    from pyspark.sql import functions as F

    from refluxdb_spark.operators import graph as G

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = G.bfs_depths(edges, seeds, max_depth=5)
    assert {(r.node, r.depth) for r in got.collect()} == {
        (1, 0), (2, 1), (3, 1), (4, 2),
    }
    G.pagerank(edges, iterations=3).count()
    G.label_propagation(edges, "src", "dst", rounds=2).count()
    # DataFrame.persist registers in the CacheManager (localCheckpoint
    # blocks don't), so an empty CacheManager proves every edge persist
    # was released
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "graph iterator left a DataFrame persisted"
    )


def test_incremental_dedup_index_pruned(spark, sf_dir):
    """The persisted-MinHash-index probe must scan the bucket table
    with a dynamic-partition-pruning filter on bp (the bucket-prefix
    partition key): an ingest batch's dedup cost is proportional to the
    BATCH, never a corpus rescan."""
    df = QUERIES["dedup_incremental_pairs"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bucket_scan = [
        l for l in plan.splitlines() if "FileScan" in l and "/buckets" in l
    ]
    assert bucket_scan, "no scan of the persisted bucket table found"
    assert any("dynamicpruning" in l for l in bucket_scan), (
        "bucket-table scan carries no dynamicpruning partition filter; "
        f"got: {bucket_scan}"
    )


def test_semantic_prune_cap_broadcasts_cell_filter(spark, sf_dir):
    """The ``max_cell`` hot-cluster guard must stay cheap: the
    cell-size count is a WINDOW on the self-join's own key (never a
    groupBy+join that re-derives the assignment lineage — that shape
    measured 8 exchanges), so the capped plan adds at most one
    exchange over the uncapped budget (3) and the centroid assignment
    stays a broadcast."""
    from refluxdb_spark.operators.similarity import semantic_prune
    from refluxdb_spark.plans.inspect import (
        assert_broadcast_join,
        count_exchanges,
    )
    from refluxdb_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    df = semantic_prune(emb, threshold=0.35, num_centroids=16, max_cell=10_000)
    assert_broadcast_join(df, at_least=1)
    assert count_exchanges(df) <= 4, "cell-size guard added >1 exchange"


def test_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """The corpus side of decontamination must never shuffle: the eval
    gram set broadcasts into a semi-join against the exploded corpus
    grams."""
    from refluxdb_spark.plans.inspect import assert_broadcast_join, assert_no_sort_merge_join

    df = QUERIES["dedup_decontaminate"](spark, sf_dir)
    assert_broadcast_join(df, at_least=1)
    assert_no_sort_merge_join(df)


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    """Per-doc repetition signals are pure row-local expressions — the
    plan must contain no exchange at all (scales as a map over the
    corpus)."""
    from refluxdb_spark.operators.text import repetition_stats
    from refluxdb_spark.plans.inspect import count_exchanges
    from refluxdb_spark.queries import load

    df = repetition_stats(load(spark, sf_dir, "documents"))
    assert count_exchanges(df) == 0


def test_quantized_topk_no_corpus_shuffle(spark, sf_dir):
    """Quantized top-k keeps the cosine_topk shape: queries broadcast,
    corpus streams through the scan; the only exchange is the
    per-query window."""
    from pyspark.sql import functions as F
    from refluxdb_spark.operators.similarity import quantized_topk
    from refluxdb_spark.plans.inspect import assert_no_sort_merge_join, count_exchanges
    from refluxdb_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    df = quantized_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    assert_no_sort_merge_join(df)
    assert count_exchanges(df) <= 1


def test_ema_single_shuffle(spark, sf_dir):
    """The EMA recurrence costs exactly one exchange (the groupBy key
    hash) — the applyInPandas walk happens inside each partition."""
    from refluxdb_spark.operators.timeseries import ema
    from refluxdb_spark.plans.inspect import count_exchanges
    from refluxdb_spark.queries import load

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    df = ema(e, ts_col="ts", value_col="value", by=["user_id"], alpha=0.2, tiebreak="event_id")
    assert count_exchanges(df) == 1


def test_split_assign_zero_shuffle(spark, sf_dir):
    """Split assignment is one CASE beside the scan — no exchange, so
    it composes with any downstream plan for free."""
    from refluxdb_spark.operators.sampling import split_assign
    from refluxdb_spark.plans.inspect import count_exchanges
    from refluxdb_spark.queries import load

    df = split_assign(load(spark, sf_dir, "documents"), key_col="doc_id")
    assert count_exchanges(df) == 0


def test_pack_bins_single_shuffle(spark, sf_dir):
    """Packing costs exactly the one window exchange on the shard key."""
    from refluxdb_spark.operators.sampling import pack_bins
    from refluxdb_spark.plans.inspect import count_exchanges
    from refluxdb_spark.queries import load

    df = pack_bins(
        load(spark, sf_dir, "documents"),
        size_col="n_chars", budget=4096, key_col="doc_id", by=["lang"],
    )
    assert count_exchanges(df) == 1


def test_temperature_sample_no_corpus_shuffle(spark, sf_dir):
    """Temperature mixing is scan -> broadcast-join(rates) -> filter:
    the corpus side never shuffles; the only exchanges belong to the
    tiny per-source rates aggregate."""
    from refluxdb_spark.operators.sampling import temperature_sample

    df = temperature_sample(
        load(spark, sf_dir, "documents"), key_col="doc_id", source_col="source"
    )
    assert_broadcast_join(df)
    assert count_exchanges(df) <= 2


def test_rolling_actives_broadcasts_day_dimension(spark, sf_dir):
    """The 7-day sliding distinct fans out via a broadcast range join
    against the tiny day dimension — no sort-merge join of raw
    events."""
    from refluxdb_spark.plans.inspect import explain_str

    df = QUERIES["events_rolling_7d_actives"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_broadcasts_ranks_onto_edges(spark, sf_dir):
    """Each PageRank iteration must pick up ranks via a broadcast of
    the node-sized rank table onto the edge scan — never a sort-merge
    shuffle of the (100 TB-scale) edge relation on src."""
    from refluxdb_spark.operators.graph import pagerank

    edges = (
        load(spark, sf_dir, "events")
        .selectExpr("cast(user_id as string) as src", "event_type as dst")
        .distinct()
    )
    out = pagerank(edges, iterations=1, checkpoint=False)
    plan = explain_str(out, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_state_durations_single_shuffle(spark, sf_dir):
    """state_durations: one hash exchange on the series key feeds both
    the window pass and (via partial agg) the state rollup."""
    from refluxdb_spark.operators.timeseries import state_durations

    e = load(spark, sf_dir, "events")
    out = state_durations(
        e, F.when(F.col("value") < 100, "lo").otherwise("hi"),
        by=["event_type"], ts_col="ts", tiebreak="event_id",
    )
    # window exchange on event_type + final agg exchange on (key,state):
    # the agg's partial side is map-side combined, so budget is 2
    assert count_exchanges(out) <= 2


def test_heartbeat_uptime_single_key_exchange(spark, sf_dir):
    """heartbeat_uptime: the two window passes and both aggregation
    levels all key on user_id — one hash exchange total."""
    from refluxdb_spark.operators.timeseries import heartbeat_uptime

    e = load(spark, sf_dir, "events")
    out = heartbeat_uptime(e, by=["user_id"], ts_col="ts")
    assert count_exchanges(out) <= 1


def test_readability_zero_shuffle(spark, sf_dir):
    """Readability is narrow per-row arithmetic — no exchange at all."""
    from refluxdb_spark.operators.text import readability_scores

    d = load(spark, sf_dir, "documents")
    assert count_exchanges(readability_scores(d)) == 0


def test_autocorrelation_budget(spark, sf_dir):
    """ACF: one window exchange on the series key + the map-side
    combined stats rollup — every lag rides the same sort."""
    from refluxdb_spark.operators.timeseries import autocorrelation

    e = load(spark, sf_dir, "events")
    out = autocorrelation(e, by=["event_type"], ts_col="ts", tiebreak="event_id")
    assert count_exchanges(out) <= 2


def test_centroid_classify_broadcasts_centroids(spark, sf_dir):
    """Nearest-centroid: the labels-sized centroid table broadcasts
    onto the corpus scan — the vector relation itself is never
    sort-merge joined."""
    from refluxdb_spark.operators.similarity import nearest_centroid_classify

    emb = load(spark, sf_dir, "embeddings")
    plan = explain_str(nearest_centroid_classify(emb), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_m4_single_exchange(spark, sf_dir):
    """M4: all four row_number orderings partition by (key, bucket) —
    one hash exchange, per-ordering sorts only."""
    from refluxdb_spark.operators.timeseries import m4_downsample

    e = load(spark, sf_dir, "events")
    out = m4_downsample(e, by=["event_type"], bucket_seconds=3600, tiebreak="event_id")
    # window exchange + the final distinct's exchange
    assert count_exchanges(out) <= 2


def test_blocklist_filter_zero_shuffle(spark, sf_dir):
    """Blocklist filtering is pure column expressions over the scan —
    no exchange anywhere; at 100 TB it rides an existing corpus pass."""
    from refluxdb_spark.operators.text import blocklist_filter

    df = blocklist_filter(load(spark, sf_dir, "documents"), ["spark", "shuffle"])
    assert count_exchanges(df) == 0


def test_bfs_depths_broadcast_only(spark, sf_dir):
    """BFS frontier expansion: every join in the final visited plan is
    a broadcast of a node-sized relation — the edge table is never
    sort-merge shuffled. (Lineage is checkpointed per round, so the
    plan inspected here is the last round's — the invariant holds for
    every round by construction.)"""
    from refluxdb_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    out = bfs_depths(edges, seeds, max_depth=2)
    # the returned relation is a checkpointed union — inspect one
    # frontier step explicitly instead
    from pyspark.sql import functions as F
    step = (
        edges.join(F.broadcast(seeds.withColumnRenamed("node", "src")), "src")
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(seeds), "node", "left_anti")
    )
    plan = explain_str(step, "simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert out.count() == 3


def test_theil_sen_exchange_budget(spark, sf_dir):
    """Theil–Sen: the pair self-join and both median windows share the
    group key — the whole plan stays within a small exchange family on
    ``by`` (day-grain input relation, so every exchange is bucket-sized)."""
    from refluxdb_spark.operators.timeseries import theil_sen

    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pts = daily.select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01").cast("date")).cast("bigint").alias("x"),
        F.col("cnt").cast("double").alias("y"),
    )
    # the registered query materializes the bucket relation once (the
    # plan consumes it four times); with that cut, everything left is
    # the exchange family on the group key over bucket-sized rows
    pts = pts.localCheckpoint(eager=True)
    df = theil_sen(pts, "x", "y", by=["event_type"])
    assert count_exchanges(df) <= 4


def test_keyness_grid_is_vocab_broadcast(spark, sf_dir):
    """Keyness joins the vocabulary-sized global table and the
    group-totals dimension by broadcast — the corpus-sized token
    stream is aggregated once and never sort-merge joined."""
    from refluxdb_spark.operators.text import keyness_llr

    d = load(spark, sf_dir, "documents")
    plan = explain_str(keyness_llr(d), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zipf_fit_exchange_budget(spark, sf_dir):
    """Zipf fit: the token rollup, the vocab-sized rank window, and
    the group stats fold — nothing corpus-sized past the first
    aggregate."""
    from refluxdb_spark.operators.text import zipf_fit

    d = load(spark, sf_dir, "documents")
    assert count_exchanges(zipf_fit(d)) <= 3


def test_sax_broadcasts_series_moments(spark, sf_dir):
    """SAX joins the series-dimension moment table onto the day
    frames by broadcast; no sort-merge anywhere."""
    from refluxdb_spark.operators.timeseries import sax_symbols

    e = load(spark, sf_dir, "events")
    plan = explain_str(sax_symbols(e), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_difference_presalted_state(spark, sf_dir):
    """The A/B sketch states cut bottom-k per salt bucket BEFORE the
    global window — the single-partition stage only ever sees
    presalt*k rows per side."""
    from refluxdb_spark.operators.sketches import kmv_difference

    e = load(spark, sf_dir, "events")
    out = kmv_difference(
        e.filter(F.col("event_type") == "click").select("user_id"),
        e.filter(F.col("event_type") == "error").select("user_id"),
        "user_id",
    )
    plan = explain_str(out, "formatted")
    assert "pmod" in plan  # the salt-bucket window partitioning survived


def test_seasonal_decompose_broadcasts_seasonal_indices(spark, sf_dir):
    """The hour-of-day seasonal table (and its centering) joins back
    by broadcast — the bucket relation is the largest thing shuffled."""
    from refluxdb_spark.operators.timeseries import seasonal_decompose

    e = load(spark, sf_dir, "events")
    plan = explain_str(seasonal_decompose(e), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hamming_topk_broadcasts_queries(spark, sf_dir):
    """Binary retrieval: the query codes broadcast onto one corpus
    scan; no shuffle of the corpus for scoring."""
    from refluxdb_spark.operators.similarity import hamming_topk

    emb = load(spark, sf_dir, "embeddings")
    out = hamming_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    plan = explain_str(out, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
