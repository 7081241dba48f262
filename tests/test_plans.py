"""Registry consistency guards: the driver contract must stay coherent."""

from __future__ import annotations

from aws_data_wrangler_spark.plans import ORACLES, QUERIES


def test_every_oracle_has_a_query():
    missing = [name for name in ORACLES if name not in QUERIES]
    assert missing == []


def test_rows_only_set_is_intentional():
    # approximate/iterative operators deliberately lack oracles;
    # anything else missing one is a regression. Round 3 closed
    # ann_cosine_topk_arrow (4dp truncation + re-rank oracle) and
    # ann_ivf_topk (seeded centroids + cosine coarse metric → the
    # whole pipeline is deterministic dot-product arithmetic, the
    # semdedup-oracle technique; the iterative Lloyd-trained path
    # stays recall-matrix-tested). The one remaining entry is the BPE
    # encoder (iterative merge application is not SQL-expressible;
    # pytest pins hand-computed merges + lossless reconstruction).
    # bpe_token_budget (r11) joins it: the VERDICT r10 #5 weld's
    # registry surface — BPE-denominated token budgets — counts through
    # the same non-SQL-expressible encoder; pytest pins planted-text
    # budget arithmetic where BPE and whitespace denominations draw
    # different document sets.
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    assert rows_only == [
        "bpe_encode",
        "bpe_token_budget",
    ]


# Round-14 rotation policy (VERDICT r13 #6 — the SECOND optimization
# round: zero new registrations, zero feature work). The driver
# verifies the FIRST 50 registry entries. The round-14 window carries
# (a) the three rows crossing round-14-changed code, derived
# mechanically by tools/crossing_set.py on the round diff
# (c163b51..HEAD): profiling_cms_join_size (the pooled geometry+total
# probe, VERDICT r13 #4) pulled from the round-13 window, and
# sample_temperature + sample_domain_temperature (the docstring-only
# ADVICE r12 #2 closure, VERDICT r13 #7) pulled from ROUND12_FROZEN;
# (b) dedup_semdedup + ann_pq_topk + corpus_curation_pipeline pulled
# forward VOLUNTARILY from ROUND12_FROZEN on the three spare slots
# (code byte-identical to r12 — the bench-heaviest r12 rows get their
# pedigree refreshed early); (c) the ENTIRE 44-entry ROUND11_FROZEN
# remainder — two rounds stale after round 13, the staleness invariant
# forces all of it in. 3 + 3 + 44 = 50 exactly; round-14 late
# registrations: ZERO.

ROUND14_CHANGED_CODE = {
    "profiling_cms_join_size",
    "sample_temperature", "sample_domain_temperature",
}

ROUND12_PULLED_FORWARD_R14 = {
    # voluntary early rotation (unchanged code): spare slots refresh
    # the bench-heaviest r12 pedigrees a round early, shrinking any
    # future ROUND12_FROZEN absorption to 44 rows.
    "dedup_semdedup", "ann_pq_topk", "corpus_curation_pipeline",
}

ROUND11_ROTATED_IN_R14 = {
    # the whole ROUND11_FROZEN remainder: last driver rows in round 11
    "ann_cosine_topk", "ann_cosine_topk_arrow", "ann_lsh_topk",
    "ann_metric_topk", "ann_pca_sq8_search", "ann_sq8_topk",
    "athena_ctas_roundtrip", "bpe_word_frequencies",
    "db_jdbc_roundtrip", "dedup_clusters", "dedup_duplicated_lines",
    "dedup_duplicated_spans", "dedup_embedding_cosine",
    "dedup_embedding_incremental", "dedup_embedding_lsh",
    "dedup_exact", "dedup_incremental", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_normalized", "dedup_simhash",
    "embedding_curation_pipeline", "events_error_click_window",
    "events_hourly_gapfill", "events_interpolate",
    "events_session_window", "events_top_paths",
    "events_user_join_salted", "io_merge_datasets",
    "io_partition_pruned_read", "io_upsert_roundtrip",
    "orders_value_deciles", "q2_min_cost_supplier",
    "sample_epoch_mixture", "sample_weighted",
    "streaming_anomaly_monitor", "streaming_drift_monitor",
    "streaming_growing_corpus", "streaming_latest_per_user",
    "streaming_static_enrich", "text_char_entropy",
    "text_classifier_score", "text_decontaminated_spans",
    "text_fingerprint",
}

ROUND13_FROZEN = {
    # fresh green rows in CORRECTNESS_r13.json (the fifth all-green
    # window); code byte-identical since round 13 except
    # profiling_cms_join_size, which moved INTO the round-14 window as
    # changed-code. Rotates in round 16 at the latest.
    "ann_cell_occupancy", "ann_index_rebalance_search",
    "ann_ivfpq_partitioned_search", "benchmark_contamination",
    "benchmark_near_contamination", "dedup_bloom_ingest_gate",
    "dedup_containment", "embedding_pca_project",
    "events_asof_signup", "events_daily_uniques_rollup",
    "events_holt_trend", "events_join_fanout",
    "ingest_preflight_report", "io_fwf_roundtrip",
    "lineitem_stats_by_flag", "multimodal_audio_fp",
    "multimodal_image_dhash", "pretraining_curation_pipeline",
    "profiling_cms_frequencies", "profiling_distribution_drift",
    "profiling_key_uniqueness", "profiling_kmv_set_overlap",
    "profiling_quantile_invariants", "profiling_referential_integrity",
    "q6_revenue_forecast", "streaming_bloom_gate",
    "streaming_corpus_dedup", "streaming_error_click_join",
    "streaming_ewma_monitor", "streaming_heavyhitter_monitor",
    "streaming_kmv_monitor", "streaming_ndv_monitor",
    "streaming_quantile_monitor", "streaming_sliding_counts",
    "text_bigram_surprisal", "text_c4_rules", "text_chunk_tokens",
    "text_domain_quality", "text_domain_rollup", "text_gopher_quality",
    "text_html_extract", "text_lang_id", "text_ngram_freq",
    "text_ngram_repetition", "text_pack_sequences",
    "text_perplexity_buckets", "text_pii_scrub",
    "text_tfidf_top_terms", "topk_customers_window",
}

ROUND12_FROZEN = {
    # fresh green rows in CORRECTNESS_r12.json; code byte-identical
    # since round 12 (sample_temperature / sample_domain_temperature
    # moved INTO the round-14 window as changed-code, dedup_semdedup +
    # ann_pq_topk + corpus_curation_pipeline as voluntary early
    # rotations). Rotates in round 15.
    "ann_filtered_pq_search", "ann_ivf_lloyd_step", "ann_ivf_topk",
    "ann_ivfpq_topk", "ann_mmr_rerank",
    "ann_recall_lsh", "brand_revenue_pareto",
    "catalog_table_roundtrip",
    "db_copy_unload_roundtrip",
    "dedup_snapshot_diff", "embedding_dim_stats", "events_cube_daily",
    "events_funnel", "events_holtwinters_seasonal",
    "events_json_extract", "events_retention_cohorts",
    "events_value_histogram", "io_bucketed_join", "io_csv_roundtrip",
    "io_json_roundtrip", "io_orc_roundtrip", "io_overwrite_partitions",
    "io_parquet_roundtrip", "io_schema_evolution",
    "logs_insights_parse", "multimodal_video_near_dup",
    "pretraining_shard_export", "profiling_correlations",
    "profiling_null_profile", "profiling_numeric_summary",
    "q14_promo_effect", "q18_large_orders", "q1_pricing_summary",
    "q21_waiting_suppliers", "q3_shipping_priority",
    "q5_local_supplier_volume", "sample_cluster_balanced",
    "sample_dsir", "sample_hash_split",
    "streaming_dsir_gate",
    "streaming_holtwinters_monitor", "streaming_index_ingest",
    "streaming_sessionize", "text_quality_gate",
}

# VERDICT r8 "what's wrong" #1: the declared rows-only entries can
# never produce a green driver row, so they are PERMANENTLY pinned
# below the window (their pytest pedigree is their contract) and
# excluded from every future rotation.
PINNED_ROWS_ONLY = {"bpe_encode", "bpe_token_budget"}

# Round-14 late registrations: ZERO by design (an optimization round
# adds no operators). Kept as an explicit empty set so the partition
# test still tiles the registry exactly.
ROUND14_LATE: set = set()

ROUND14_MUST_BE_IN_WINDOW = (
    ROUND14_CHANGED_CODE
    | ROUND12_PULLED_FORWARD_R14
    | ROUND11_ROTATED_IN_R14
)

RETIRED_R7 = {
    # plan-subsumed entries retired in round 7 with covered-by
    # annotations (SURVEY §2 / queries.py); the operators stay
    # implemented and unit-tested — only the registry rows were
    # consolidated
    "embedding_stats", "events_value_percentiles", "q16_parts_suppliers",
    "text_token_count", "text_repetition", "sample_stratified",
    "sample_fixed_per_source", "sample_token_budget",
    "streaming_content_dedup", "dedup_lsh_corpus", "multimodal_decode_stub",
    "events_hourly_spikes", "events_key_skew", "ann_filtered_search",
    "orders_yoy_growth",
}

RETIRED_R9 = {
    # round-9 consolidation (VERDICT r8 #2): plan-subsumed rows retired
    # with covered-by annotations at each former definition site in
    # queries.py; operators stay implemented and unit-tested. Four of
    # these stay BENCH-tracked through queries.BENCH_RETIRED (the
    # frozen bench subset is untouched by registry consolidation).
    "q11_important_stock",       # global-share HAVING → brand_revenue_pareto
    "q13_customer_distribution", # join fan-out profile → events_join_fanout
    "q19_discount_revenue",      # filter+agg family → q6_revenue_forecast / q1
    "q22_idle_customers",        # anti-join family → q21_waiting_suppliers
    "events_sessionize",         # → streaming_sessionize + events_session_window
    "ann_ivf_partitioned_search",  # → ann_ivfpq_partitioned_search (VERDICT-named)
    "ann_index_delete_search",   # → ann_index_rebalance_search + pytest tombstone test
    "text_length_histogram",     # → events_value_histogram; edges pytest-pinned
    "logs_insights_stats",       # → logs_insights_parse (same DSL stages + parse)
    "text_unigram_surprisal",    # → text_bigram_surprisal + text_perplexity_buckets
    "text_quality_score",        # → text_quality_gate (shared CTE fragments)
    "events_hourly_rollup",      # → streaming_hourly_rollup + events_hourly_gapfill
    "events_mad_anomalies",      # → streaming_anomaly_monitor (shared scoring)
    "sample_shuffle_shards",     # → pretraining_shard_export (same operator + oracle)
    "events_ewma_smoothing",     # → streaming_ewma_monitor (VERDICT-named)
}

RETIRED_R10 = {
    # round-10 consolidation (VERDICT r9 #1 sanctioned all three):
    # covered-by annotations at each former definition site; operators
    # stay implemented and pytest-pinned. None is in the frozen bench
    # HEADLINE list, so BENCH_RETIRED needs no extension.
    "profiling_hll_invariants",    # → streaming_ndv_monitor + events_daily_uniques_rollup;
                                   #   2% invariant pinned (test_hll_sketches_merge_losslessly)
    "events_heavy_hitters_sketch", # → profiling_cms_frequencies + streaming_heavyhitter_monitor;
                                   #   approx_top_k pinned (test_approx_heavy_hitters_exact_regime_and_ties)
    "streaming_hourly_rollup",     # → streaming_sliding_counts (same windowed_rollup path,
                                   #   hopping superset) + events_hourly_gapfill (batch superset)
}


def test_retired_entries_are_gone():
    assert RETIRED_R7 & set(QUERIES) == set()
    assert RETIRED_R7 & set(ORACLES) == set()
    assert RETIRED_R9 & set(QUERIES) == set()
    assert RETIRED_R9 & set(ORACLES) == set()
    assert RETIRED_R10 & set(QUERIES) == set()
    assert RETIRED_R10 & set(ORACLES) == set()


def test_bench_retired_shim_is_exactly_the_frozen_bench_overlap():
    # the four retired entries the FROZEN bench list still tracks run
    # through queries.BENCH_RETIRED — nothing else hides there
    from aws_data_wrangler_spark.plans.queries import BENCH_RETIRED

    assert set(BENCH_RETIRED) == {
        "events_hourly_rollup", "events_sessionize", "text_quality_score",
        "ann_ivf_partitioned_search",
    }
    assert set(BENCH_RETIRED) <= RETIRED_R9
    assert set(BENCH_RETIRED) & set(QUERIES) == set()
    for fn in BENCH_RETIRED.values():
        assert callable(fn)


def test_below_window_entries_all_have_pedigree():
    names = list(QUERIES)
    below = set(names[50:])
    unaccounted = (below - ROUND13_FROZEN - ROUND12_FROZEN
                   - PINNED_ROWS_ONLY - ROUND14_LATE)
    assert unaccounted == set(), (
        f"below-window entries with no declared pedigree: {unaccounted}"
    )


def test_no_entry_staler_than_two_rounds():
    # the rotation invariant (VERDICT r5 #5, re-pinned every round):
    # after round 14, no below-window entry's last driver row may be
    # older than round 12 — so nothing with round-11 pedigree may sit
    # below the boundary. The pinned rows-only entries are exempt BY
    # POLICY: they have no oracle, so a driver row can never verify
    # them (pytest is their contract).
    names = list(QUERIES)
    below = set(names[50:])
    assert below & ROUND11_ROTATED_IN_R14 == set(), (
        "round-11-pedigree entries must sit inside the round-14 window"
    )


def test_pinned_rows_only_entry_stays_below_the_window():
    # permanent policy: bpe_encode never burns a driver-window slot
    names = list(QUERIES)
    for name in PINNED_ROWS_ONLY:
        assert names.index(name) >= 50, f"{name} must stay below the window"
        assert name not in ORACLES  # rows-only by design


def test_new_or_changed_inside_driver_window():
    names = list(QUERIES)
    late = [n for n in ROUND14_MUST_BE_IN_WINDOW if names.index(n) >= 50]
    assert late == [], f"driver-unverified new/changed queries outside the window: {late}"


def test_window_is_exactly_the_declared_partition():
    # the pedigree groups tile the registry exactly: no entry in two
    # groups, none unaccounted, and the window holds precisely the
    # must-be-in set
    names = list(QUERIES)
    window, below = set(names[:50]), set(names[50:])
    assert window == ROUND14_MUST_BE_IN_WINDOW
    assert below == (ROUND13_FROZEN | ROUND12_FROZEN | PINNED_ROWS_ONLY
                     | ROUND14_LATE)
    assert ROUND13_FROZEN & ROUND12_FROZEN == set()
    assert PINNED_ROWS_ONLY & (ROUND13_FROZEN | ROUND12_FROZEN) == set()
    assert ROUND14_LATE & (ROUND13_FROZEN | ROUND12_FROZEN | PINNED_ROWS_ONLY) == set()
    groups = [
        ROUND14_CHANGED_CODE, ROUND12_PULLED_FORWARD_R14,
        ROUND11_ROTATED_IN_R14,
    ]
    for i, a in enumerate(groups):
        for b in groups[i + 1:]:
            assert a & b == set()


def test_entry_module_contract():
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50
    assert callable(qs["q1_pricing_summary"])
    assert "SELECT" in oracles["q1_pricing_summary"].upper()


class TestPlanAudits:
    """Physical-plan shape assertions for the new pipeline operators —
    scale behavior is a test subject (SURVEY §5 item 4)."""

    def test_contamination_broadcasts_eval_set(self, spark):
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.operators import text
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        out = text.benchmark_contamination(
            docs.filter(F.col("doc_id") % 50 != 0), docs.filter(F.col("doc_id") % 50 == 0), n=5
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the eval n-gram set must be the broadcast side: the corpus
        # (100 TB side) is never shuffled for the probe
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    def test_pretraining_pipeline_plan_shape(self, spark):
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import QUERIES

        out = QUERIES["pretraining_curation_pipeline"](spark, "/root/testdata/sf0.001")
        s = plan_summary(out)
        # the full-ladder composition must stay scale-shaped end-to-end:
        # no all-pairs join anywhere, the boilerplate-line verdict join
        # broadcast, and zero Python in the row path
        assert s["cartesian_products"] == 0, s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        assert s["broadcast_hash_joins"] >= 1, s["plan"]
        assert not s["python_eval"], s["plan"]

    def test_stratified_sample_is_shuffle_free(self, spark):
        from aws_data_wrangler_spark.operators import sampling
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        kept = sampling.stratified_sample(docs, {"src0": 0.8}, default_fraction=0.25)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        # the corpus never shuffles: the per-stratum thresholds arrive
        # by BroadcastExchange (stratum-sized table — the r11 fix for
        # the 64 KB when-chain codegen overflow, VERDICT r10 #1); any
        # hash/range/single-partition exchange here is a regression
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_temperature_sample_is_fully_distributed(self, spark):
        # the r12 rewrite (VERDICT r11 #4): fractions/thresholds derive
        # IN Spark — no driver collect — and the plan must show (a) the
        # corpus never shuffles (its only join is the broadcast
        # threshold join), (b) exactly one stratum-cardinality counts
        # exchange + the bounded single-partition totals window, (c) no
        # BNLJ/cartesian (the totals attach via window, not crossJoin —
        # a crossJoin re-aggregates the corpus, observed r12), (d) the
        # counts scan is column-pruned to the stratum column
        from aws_data_wrangler_spark.operators import sampling
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        kept = sampling.temperature_sample(docs, strata_col="lang", alpha=0.5)
        s = plan_summary(kept)
        plan = s["plan"]
        assert s["broadcast_hash_joins"] == 1, plan
        assert s["broadcast_nested_loop_joins"] == 0, plan
        assert s["cartesian_products"] == 0, plan
        assert not s["python_eval"], plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange SinglePartition") == 1, plan
        assert "ReadSchema: struct<lang:string>" in plan, plan

    def test_pinned_filter_stays_above_exchange(self, spark):
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.functions import pinned

        df = spark.range(100).repartition(8).withColumn("y", F.col("id") * 2)
        plain = df.filter(F.col("y") > 5)._jdf.queryExecution().optimizedPlan().toString()
        pin = df.filter(pinned(F.col("y") > 5))._jdf.queryExecution().optimizedPlan().toString()

        def filter_above_repartition(plan: str) -> bool:
            lines = plan.splitlines()
            fi = next((i for i, l in enumerate(lines) if "Filter" in l), None)
            ri = next((i for i, l in enumerate(lines) if "Repartition" in l), None)
            return fi is not None and ri is not None and fi < ri

        # baseline: the optimizer pushes the filter below the exchange;
        # pinned: it must stay where written (above)
        assert not filter_above_repartition(plain)
        assert filter_above_repartition(pin)

    def test_pii_scrub_is_shuffle_free(self, spark):
        from aws_data_wrangler_spark.operators import text
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        plan = text.scrub_pii(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_char_entropy_is_shuffle_free(self, spark):
        # the entropy screen is a pure HOF projection: no Exchange, no
        # explode-driven (doc, char) shuffle anywhere in the plan
        from aws_data_wrangler_spark.operators import text
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        plan = (
            text.with_char_entropy(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "Generate" not in plan  # no explode

    def test_weighted_sample_is_partial_topk(self, spark):
        # the draw must plan as TakeOrderedAndProject — per-partition
        # partial top-k, never a global sort of the corpus
        from aws_data_wrangler_spark.operators import sampling
        from aws_data_wrangler_spark.plans.queries import load

        orders = load(spark, "/root/testdata/sf0.001", "orders")
        plan = (
            sampling.weighted_sample(orders, 50, "o_totalprice", id_col="o_orderkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan

    def test_cms_estimates_broadcasts_the_counter_table(self, spark):
        # the point-query join must broadcast the (<= depth*width)
        # counter side — the probe side may be a full corpus and must
        # never shuffle into a sort-merge join; the sketch aggregate's
        # exchange carries counter cells (bounded), which is fine
        from aws_data_wrangler_spark.operators import profiling
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import load

        ev = load(spark, "/root/testdata/sf0.001", "events")
        sk = profiling.cms_sketches(ev, "event_type")
        s = plan_summary(profiling.cms_estimates(sk, ev, "event_type"))
        assert s["sort_merge_joins"] == 0
        assert s["broadcast_hash_joins"] >= 1

    def test_cms_join_size_stays_counter_table_sized(self, spark):
        # the inner-product estimate must never sort-merge or cartesian
        # anything: both sides of the cell join are counter tables
        # bounded by depth*width BY CONSTRUCTION, and the final
        # single-row totals ride as literals (no corpus-sized plan arm)
        from aws_data_wrangler_spark.operators import profiling
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import load

        orders = load(spark, "/root/testdata/sf0.001", "orders")
        customer = load(spark, "/root/testdata/sf0.001", "customer")
        est = profiling.cms_join_size(
            profiling.cms_sketches(orders, "o_custkey"),
            profiling.cms_sketches(customer, "c_custkey"),
        )
        s = plan_summary(est)
        assert s["sort_merge_joins"] == 0, s["plan"]
        assert s["cartesian_products"] == 0, s["plan"]
        assert not s["python_eval"], s["plan"]

    def test_holt_winters_spine_join_shape(self, spark):
        # the zero-fill spine is a keyed equi-join (bounds aggregate +
        # sequence explode), never a cartesian / nested-loop; the fold
        # itself is the holt shape (key-grouped collect_list aggregate)
        # and no Python appears anywhere in the plan
        from aws_data_wrangler_spark.operators import timeseries
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import load

        ev = load(spark, "/root/testdata/sf0.001", "events")
        s = plan_summary(timeseries.holt_winters(ev, period=24))
        assert s["cartesian_products"] == 0, s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        assert not s["python_eval"], s["plan"]

    def test_kmv_set_overlap_row_carries_cache_handle(self, spark):
        # r13: the registered row caches its two sketch tables (the
        # cms_frequencies/cms_join_size precedent — bounded at k
        # bigints per side, never data) so the geometry collects and
        # the final plan stop re-executing the 2-pass corpus sketches;
        # the release handle must ride the returned frame for the
        # ingest-loop hygiene contract
        from aws_data_wrangler_spark.operators import dedup
        from aws_data_wrangler_spark.plans import QUERIES

        out = QUERIES["profiling_kmv_set_overlap"](spark, "/root/testdata/sf0.001")
        assert len(getattr(out, "_sg_batch_caches", [])) == 2
        assert dedup.release_batch_state(out, blocking=True) == 2

    def test_kmv_sketch_threshold_join_broadcasts(self, spark):
        # the two-pass prune's threshold join must broadcast the tiny
        # per-batch stats side — the corpus (100 TB side) streams
        # map-side through the filter, never into a sort-merge join;
        # the only exchanges carry the bounded stats/candidate state
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.operators import profiling
        from aws_data_wrangler_spark.plans.audit import plan_summary
        from aws_data_wrangler_spark.plans.queries import load

        ev = load(spark, "/root/testdata/sf0.001", "events")
        # no batch_col: the constant batch key folds away and the
        # threshold join plans as ONE BNLJ whose build side is the
        # single-row stats aggregate — the orders_value_deciles shape
        # (a constant-size broadcast, never an all-pairs join)
        s = plan_summary(profiling.kmv_sketches(ev, ["user_id"], k=64))
        assert s["sort_merge_joins"] == 0
        assert s["cartesian_products"] == 0
        assert s["broadcast_nested_loop_joins"] <= 1
        assert s["broadcast_hash_joins"] + s["broadcast_nested_loop_joins"] >= 1
        assert not s["python_eval"]
        # with a real batch key the join is a plain broadcast hash join
        batched = ev.withColumn("b", F.crc32(F.col("event_id").cast("string")) % 4)
        s2 = plan_summary(
            profiling.kmv_sketches(batched, ["user_id"], k=64, batch_col="b")
        )
        assert s2["sort_merge_joins"] == 0
        assert s2["broadcast_nested_loop_joins"] == 0
        assert s2["broadcast_hash_joins"] >= 1

    def test_holt_exchange_parity_with_ewma(self, spark):
        # the trend fold must not cost more than the level fold: two
        # shuffles on the same key (bucket count + per-key pack), no
        # explode anywhere
        from aws_data_wrangler_spark.operators import timeseries
        from aws_data_wrangler_spark.plans.queries import load

        ev = load(spark, "/root/testdata/sf0.001", "events")
        holt = timeseries.holt_linear(ev)._jdf.queryExecution().executedPlan().toString()
        ewma = timeseries.ewma(ev)._jdf.queryExecution().executedPlan().toString()
        assert holt.count("Exchange") == ewma.count("Exchange")
        assert "Generate" not in holt

    def test_containment_has_no_cartesian(self, spark):
        # the directed pair space must come from the shingle equi-join
        # (the _shingle_overlap contract), never a cross product
        from aws_data_wrangler_spark.operators import dedup
        from aws_data_wrangler_spark.plans.audit import assert_no_cartesian
        from aws_data_wrangler_spark.plans.queries import load

        docs = load(spark, "/root/testdata/sf0.001", "documents")
        assert_no_cartesian(
            dedup.containment_pairs(docs, threshold=0.9, max_doc_frequency=1000)
        )

    def test_q5_star_join_broadcasts_all_dims(self, spark):
        # the 6-way star join must plan every dim side as a broadcast —
        # zero sort-merge joins (SURVEY §6: the 100× plan)
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import plan_summary

        s = plan_summary(QUERIES["q5_local_supplier_volume"](spark, "/root/testdata/sf0.001"))
        assert s["sort_merge_joins"] == 0
        assert s["broadcast_hash_joins"] >= 4

    def test_q6_filters_reach_the_scan(self, spark):
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import assert_pushdown

        assert_pushdown(QUERIES["q6_revenue_forecast"](spark, "/root/testdata/sf0.001"))

    def test_asof_join_is_single_shuffle(self, spark, events):
        # union-sort + running last(): ONE exchange keyed on the join
        # key — never a per-key loop or a range cross join
        from pyspark.sql import functions as F

        from aws_data_wrangler_spark.operators import joins
        from aws_data_wrangler_spark.plans.audit import plan_summary

        clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        signups = events.filter(F.col("event_type") == "signup").select(
            "user_id", "ts", F.col("event_id").alias("signup_id")
        )
        out = joins.asof_join(
            clicks, signups, on="user_id", left_time="ts", right_time="ts",
            right_cols=["signup_id"],
        )
        s = plan_summary(out)
        assert s["cartesian_products"] == 0 and s["broadcast_nested_loop_joins"] == 0
        # one exchange for the union'd window partition (+ AQE reads)
        assert s["exchanges"] <= 2

    def test_no_global_window_over_unaggregated_input(self, spark):
        # sweep every SQL analytics query: none may move an
        # unaggregated table through a single-partition WindowExec
        # (the orders_value_deciles ntile defect, VERDICT r2). Windows
        # over tiny aggregate outputs (pareto, yoy) stay legal.
        from aws_data_wrangler_spark.plans.audit import assert_no_global_window
        from aws_data_wrangler_spark.plans.queries import (
            ANALYTICS_SQL,
            EVENTS_JSON_SQL_SPARK,
            EVENTS_SESSIONIZE_SQL_SPARK,
            ORDERS_DECILES_SQL_SPARK,
            register_tables,
        )

        register_tables(spark, "/root/testdata/sf0.001")
        sqls = dict(ANALYTICS_SQL)
        sqls["orders_value_deciles"] = ORDERS_DECILES_SQL_SPARK
        sqls["events_sessionize"] = EVENTS_SESSIONIZE_SQL_SPARK
        sqls["events_json_extract"] = EVENTS_JSON_SQL_SPARK
        for name, sql in sqls.items():
            try:
                assert_no_global_window(spark.sql(sql))
            except AssertionError as exc:
                raise AssertionError(f"{name}: {exc}") from exc

    def test_global_window_audit_flags_the_old_ntile_shape(self, spark):
        # regression oracle for the audit itself: the retired
        # partition-less ntile plan must be DETECTED
        from aws_data_wrangler_spark.plans.audit import global_window_over_unaggregated
        from aws_data_wrangler_spark.plans.queries import register_tables

        register_tables(spark, "/root/testdata/sf0.001")
        bad = spark.sql(
            "SELECT o_totalprice, ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)"
            " AS decile FROM orders"
        )
        assert global_window_over_unaggregated(bad)
        # and a window over an aggregate output must NOT be flagged
        ok = spark.sql(
            "WITH y AS (SELECT count(*) AS n, min(o_orderkey) AS k FROM orders"
            " GROUP BY o_orderpriority)"
            " SELECT n, sum(n) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) FROM y"
        )
        assert not global_window_over_unaggregated(ok)

    def test_embedding_dedup_has_no_cartesian(self, spark):
        # the registered embedding-dedup queries must never plan an
        # all-pairs physical join (CartesianProduct / BNLJ): the exact
        # low-threshold miner shards via a block equi-join instead
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import assert_no_cartesian

        assert_no_cartesian(QUERIES["dedup_embedding_cosine"](spark, "/root/testdata/sf0.001"))
        assert_no_cartesian(
            QUERIES["embedding_curation_pipeline"](spark, "/root/testdata/sf0.001")
        )
        # incremental variants: the bipartite block/bucket joins must
        # shard the same way — quadratic work is new×corpus, never a
        # physical cross join
        assert_no_cartesian(
            QUERIES["dedup_embedding_incremental"](spark, "/root/testdata/sf0.001")
        )
        assert_no_cartesian(QUERIES["dedup_incremental"](spark, "/root/testdata/sf0.001"))

    def test_deciles_nested_loop_is_single_row_bounded(self, spark):
        # orders_value_deciles intentionally plans ONE BNLJ whose build
        # side is the single-row percentile aggregate (a global agg
        # behind Exchange SinglePartition) — a constant-size broadcast,
        # not an all-pairs join. Pin that shape so a regression to a
        # corpus-sized nested loop (or back to the global ntile window)
        # fails loudly.
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import (
            assert_no_global_window,
            plan_summary,
        )

        df = QUERIES["orders_value_deciles"](spark, "/root/testdata/sf0.001")
        s = plan_summary(df)
        assert s["cartesian_products"] == 0
        assert s["broadcast_nested_loop_joins"] == 1
        # the broadcast input must be the aggregated (1-row) side
        assert "percentile" in s["plan"]
        assert_no_global_window(df)

    def test_semdedup_plan_is_centroid_bounded(self, spark):
        # assignment is a literal-argmin projection (round 5): no
        # nested-loop join of ANY kind survives in the pipeline; the
        # within-cell pair miner must be an equi-join, never a
        # cartesian over the corpus
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import plan_summary

        s = plan_summary(QUERIES["dedup_semdedup"](spark, "/root/testdata/sf0.001"))
        assert s["cartesian_products"] == 0
        assert s["broadcast_nested_loop_joins"] == 0

    def test_text_dedup_miners_have_no_cartesian(self, spark):
        # every text-dedup candidate generator must be an equi-join
        # (shingle / band-bucket / span keys) — no all-pairs physical
        # join anywhere in the registered plans
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import assert_no_cartesian

        for name in (
            "dedup_minhash_lsh",
            "dedup_ngram_jaccard",
            "dedup_duplicated_spans",
            "dedup_duplicated_lines",
        ):
            assert_no_cartesian(QUERIES[name](spark, "/root/testdata/sf0.001"))

    def test_minhash_lsh_plan_reads_set_and_candidate_tables(self, spark):
        # the MinHash miner materializes two tables: the shingle sets,
        # read by the signature aggregate and the verify, and the
        # candidate pairs, read twice by the verify (the candidate
        # generator behind the second is audited in the next test)
        from conftest import SF_DIR

        from aws_data_wrangler_spark.operators import dedup
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import assert_no_cartesian, cached_relations

        pairs = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
        try:
            assert cached_relations(pairs) == 2
            assert_no_cartesian(pairs)
        finally:
            dedup.release_batch_state(pairs)

    def test_minhash_candidate_generators_are_band_bucket_equi_joins(self, spark, monkeypatch):
        # both MinHash miners checkpoint their distinct candidate pairs,
        # so their result plans show only a scan of the checkpoint: audit
        # the band-bucket join each one builds below its checkpoint
        import re

        from conftest import SF_DIR

        from aws_data_wrangler_spark.operators import dedup
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import assert_no_cartesian, plan_summary

        built = []
        bucket_pairs = dedup._bucket_pairs

        def recording(*args):
            built.append(bucket_pairs(*args))
            return built[-1]

        monkeypatch.setattr(dedup, "_bucket_pairs", recording)
        equi_join = r"Join \[band#\d+, bucket#\d+L\], \[band#\d+, bucket#\d+L\], Inner"
        for name in ("dedup_minhash_lsh", "dedup_incremental"):
            del built[:]
            result = QUERIES[name](spark, SF_DIR)
            try:
                assert len(built) == 1, name
                assert_no_cartesian(built[0])
                plan = plan_summary(built[0])["plan"]
                assert re.search(equi_join, plan), f"{name}:\n{plan}"
            finally:
                if getattr(result, "_sg_batch_caches", None):
                    dedup.release_batch_state(result)

    def test_minhash_lsh_final_plan_runs_band_join_and_signatures_once(self, spark):
        # over an inline candidate table the verify planned the band
        # self-join twice and the 48-slot signature aggregate three times
        # (no exchange above the candidate distinct to reuse)
        import re

        from conftest import SF_DIR

        from aws_data_wrangler_spark.operators import dedup
        from aws_data_wrangler_spark.plans import QUERIES
        from aws_data_wrangler_spark.plans.audit import final_plan

        pairs = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
        try:
            pairs.collect()
            plan = final_plan(pairs)
        finally:
            dedup.release_batch_state(pairs)
        assert len(re.findall(r"Join \[band#\d+, bucket#\d+L\]", plan)) <= 1, plan
        assert len(re.findall(r"functions=\[min\(xxhash64\(", plan)) <= 1, plan
