"""Central query registry — the driver-facing surface.

Every implemented operator from SURVEY.md §2 registers one named query
(a ``(spark, sf_dir) -> DataFrame`` callable) and, when the semantics
are batch-SQL-expressible, a DuckDB oracle SQL string computing the
same result with the same column names. ``__spark_entry__.queries()`` /
``oracle_sql()`` read straight from here.

Usage in operator modules::

    from highload_kafka_streams_spark.registry import query

    @query("q_filter", oracle="SELECT ... FROM events WHERE ...")
    def q_filter(spark, sf_dir):
        ...

Queries without an oracle string (streaming-only / engine-specific-hash
semantics, SURVEY.md §2 tier 🌊) get the driver's rows-only check.

``get_queries()`` / ``get_oracle_sql()`` order the names on every call
from the driver's evidence files, which are re-read each time, and from
the content hashes of the code this process imported, which ``qhash``
computes once per code object. A repeat lookup therefore costs a few
file reads, not a re-hash of every query's source.
"""

from __future__ import annotations

import importlib
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# modules that register queries on import (order = SURVEY.md §2 order)
_QUERY_MODULES = (
    "highload_kafka_streams_spark.sources.tables",
    "highload_kafka_streams_spark.sources.formats",
    "highload_kafka_streams_spark.operators.stateless",
    "highload_kafka_streams_spark.operators.joins",
    "highload_kafka_streams_spark.operators.aggregates",
    "highload_kafka_streams_spark.operators.time_windows",
    "highload_kafka_streams_spark.operators.analytic",
    "highload_kafka_streams_spark.operators.setops",
    "highload_kafka_streams_spark.operators.skew",
    "highload_kafka_streams_spark.operators.sampling",
    "highload_kafka_streams_spark.plans.composite",
    "highload_kafka_streams_spark.plans.events_analytics",
    "highload_kafka_streams_spark.plans.round6",
    "highload_kafka_streams_spark.plans.round6b",
    "highload_kafka_streams_spark.plans.round6c",
    "highload_kafka_streams_spark.plans.round6d",
    "highload_kafka_streams_spark.plans.round6e",
    "highload_kafka_streams_spark.plans.round6f",
    "highload_kafka_streams_spark.plans.round6g",
    "highload_kafka_streams_spark.plans.round7",
    "highload_kafka_streams_spark.plans.round8",
    "highload_kafka_streams_spark.plans.round9",
    "highload_kafka_streams_spark.plans.round10",
    "highload_kafka_streams_spark.plans.round11",
    "highload_kafka_streams_spark.functions.scalar",
    "highload_kafka_streams_spark.functions.udfs",
    "highload_kafka_streams_spark.streaming.replay",
    "highload_kafka_streams_spark.streaming.stateful",
    "highload_kafka_streams_spark.streaming.topology",
    "highload_kafka_streams_spark.llm.dedup",
    "highload_kafka_streams_spark.llm.similarity",
    "highload_kafka_streams_spark.llm.text",
    "highload_kafka_streams_spark.llm.packing",
    "highload_kafka_streams_spark.operators.selection",
    "highload_kafka_streams_spark.llm.multimodal",
    "highload_kafka_streams_spark.operators.linkage",
)


# --------------------------------------------------------------------------
# Caching rule: every cache a query builder or engine helper makes lives
# as long as its query. A frame that two or more branches read is cached
# with ``scoped_persist`` and released when the next query builds (or at
# ``release_persists()``), so a long-lived session holds one query's
# caches at a time. Releasing never changes a result: lineage recomputes
# a dropped partition. The query's own run fills its caches; no builder
# runs a ``count()`` just to fill one.
#
# The exception is a cache shorter than its query that the same function
# unpersists: per-round tables of a driver-side loop, or an input freed
# once the next table is built (there a ``count()`` materializes the new
# frame first). ``tests/test_cache_lifetime.py`` checks the rule.
# --------------------------------------------------------------------------

_TRACKED_PERSISTS = threading.local()


def _tracked() -> list[DataFrame]:
    lst = getattr(_TRACKED_PERSISTS, "frames", None)
    if lst is None:
        lst = _TRACKED_PERSISTS.frames = []
    return lst


def scoped_persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` until the next query builds (the caching rule above).

    The registry is THREAD-LOCAL: harnesses that build/run queries from
    several driver threads (the parallel oracle-parity lane, guide
    §2.6) must not release each other's still-live caches — each
    thread's build sequence manages its own.

    Release is tied to building, not running: a harness that builds
    several queries before running any loses the earlier ones' caches
    (they recompute, results are unchanged), and the last query's caches
    live until ``release_persists()``."""
    df.persist()
    _tracked().append(df)
    return df


def release_persists() -> None:
    """Unpersist every frame this thread registered since its last
    release."""
    lst = _tracked()
    while lst:
        try:
            lst.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def query(name: str, oracle: str | None = None):
    """Decorator: register a query (and optionally its oracle SQL).

    The module-level name is bound to the same wrapper the registry holds,
    so a direct call also releases the previous query's scoped caches. A
    query that composes others releases once, at its outermost call: the
    inner calls must not free caches the outer one already registered."""

    def deco(fn: QueryFn) -> QueryFn:
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            depth = getattr(_TRACKED_PERSISTS, "depth", 0)
            if depth == 0:
                release_persists()
            _TRACKED_PERSISTS.depth = depth + 1
            try:
                return fn(spark, sf_dir)
            finally:
                _TRACKED_PERSISTS.depth = depth

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return wrapped

    return deco


_loaded = False

# Driver-facing ordering. The driver's per-round correctness pass verifies
# a bounded prefix of ``queries()`` (observed: 50 per round), so ordering
# decides which queries get driver evidence each round.
#
# Round-4 policy (self-maintaining — fixes the round-3 staleness bug where
# a hardcoded list re-verified 50 already-green queries): the ordering is
# DERIVED at load time from the ``CORRECTNESS_r*.json`` files the driver
# writes into the repo root:
#   1. oracle-backed queries with NO driver-green row yet, in ledger
#      (age/registration) order — oldest-waiting first, brand-new last;
#   2. driver-green oracle-backed queries, oldest-evidence-first (by the
#      last round they were green in), so re-verification slots rotate
#      through the stalest evidence automatically;
#   3. rows-only queries pinned at the very end via _WINDOW_TAIL so no
#      verified-window slot is spent on a ``no_oracle`` row.
# A query that ERRORED in its latest driver row counts as not-green and
# returns to the front of the window.
#
# _QUERY_LEDGER is append-only and chronological (rounds 1-3 order kept
# verbatim; round-4+ additions appended at the end as they are written).
# It only breaks ties — green/never-green status always comes from the
# CORRECTNESS files, so this list can never go stale the way the old
# _WINDOW_PRIORITY did.
_QUERY_LEDGER = (
    # round-2 driver errs, fixed: array outputs stringified in both engines
    "q_fn_array",
    "q_fn_map",
    "q_fn_regexp",
    # new: batch-replayed applyInPandasWithState session processor (§2.6)
    "q_stateful_session_processor",
    # new round-3 pipeline operators (never driver-checked)
    "q_text_pii_mask",
    "q_text_normalize",
    "q_dedup_events_window",
    "q_sample_stratified",
    "q_outlier_p99_filter",
    "q_text_repetition",
    "q_text_decontaminate",
    "q_embed_quantize",
    "q_time_rollup_hierarchy",
    "q_join_range_bucketed",
    "q_join_asof_tolerance",
    "q_agg_mode",
    "q_window_distribution_fns",
    "q_agg_corr_cov",
    "q_agg_hll_mergeable",
    "q_dedup_clusters",
    "q_similarity_topk_batch",
    "q_shard_packing",
    "q_dedup_chunks",
    "q_text_boilerplate",
    "q_corpus_shuffle",
    "q_sample_mixture_balance",
    "q_select_exact_quantiles",
    "q_agg_histogram",
    "q_text_ngram_topk",
    "q_dedup_minhash_md5",
    "q_dedup_simhash_md5",
    "q_similarity_ann_md5",
    "q_similarity_ivf_fx",
    "q_pipeline_curation",
    "q_select_approx_invariant",
    "q_tpch_q6_forecast_revenue",
    "q_tpch_q18_large_orders",
    "q_join_stream_table_versioned",
    "q_text_sentiment",
    "q_agg_linreg",
    "q_graph_triangles",
    # this session's additions; the first nine fill the 50-slot window
    # exactly — the three after them (scalar families similar to already
    # driver-green ones, and a Q5-shaped composite) overflow gracefully
    # ahead of the r1-green backfill
    "q_tpch_q14_promo_revenue",
    "q_join_bucketed_colocated",
    "q_scd2_intervals",
    "q_dsl_topology",
    "q_dedup_incremental",
    "q_embed_dim_stats",
    "q_stream_debounce",
    "q_stateful_debounce_processor",
    "q_agg_bitmap_presence",
    "q_sample_cap_per_source",
    "q_events_attribution",
    "q_agg_argmax",
    "q_pattern_sequence",
    "q_window_range_frame",
    "q_anomaly_zscore",
    "q_source_partitioned_read",
    "q_text_rarity",
    "q_events_transitions",
    "q_time_weighted_avg",
    "q_session_stats",
    "q_backlog_sweepline",
    "q_snapshot_diff",
    "q_graph_pagerank_fx",
    "q_customer_rfm",
    "q_tpch_q19_disjunctive",
    "q_text_heavy_hitters",
    "q_agg_weighted_median",
    "q_sample_temperature",
    "q_time_gap_fill",
    "q_time_carry_forward",
    "q_join_nearest_event",
    "q_text_novelty",
    "q_events_cooccurrence",
    "q_seasonality_dow",
    "q_abc_pareto",
    "q_stream_rate_limit",
    "q_events_bot_score",
    "q_fn_surrogate_key",
    "q_events_longest_streak",
    "q_text_readability",
    "q_growth_mom",
    "q_scd2_asof_snapshot",
    "q_time_ohlc",
    "q_window_rolling_median",
    "q_agg_minmax_scale",
    "q_referential_audit",
    "q_column_profile",
    "q_text_lang_confusion",
    "q_agg_gini_impurity",
    "q_tpch_q4_order_priority",
    "q_fn_format",
    "q_fn_encoding",
    "q_fn_url",
    "q_fn_struct",
    "q_tpch_q7_volume_shipping",
    # --- backfill: r1-green-only, touched-since-r1 modules first ---
    # operators/joins.py (r2: as-of r_-prefix collision fix)
    "q_join_stream_stream_windowed",
    "q_join_stream_table",
    "q_join_global_table",
    "q_join_table_table",
    "q_join_table_table_outer",
    "q_join_foreign_key",
    "q_join_semi",
    "q_join_anti",
    "q_join_theta",
    "q_join_cross",
    "q_join_asof",
    # operators/aggregates.py (r2: cogroup per-root merge derivation)
    "q_agg_count",
    "q_agg_reduce",
    "q_agg_cogroup",
    "q_agg_distinct",
    "q_agg_count_distinct",
    "q_agg_rollup",
    "q_agg_cube",
    "q_agg_grouping_sets",
    "q_pricing_summary",
    # operators/time_windows.py (r2: session tie-break fix context)
    "q_window_tumbling",
    "q_window_hopping",
    "q_window_sliding",
    # operators/analytic.py
    "q_window_rank_topk",
    "q_window_ranking_fns",
    "q_window_lag_lead",
    "q_window_running_agg",
    # sources
    "q_source_stream_replay",
    "q_source_table_latest_per_key",
    "q_source_global_table",
    "q_source_csv_roundtrip",
    "q_source_json_roundtrip",
    "q_source_orc_roundtrip",
    # operators/stateless.py
    "q_filter",
    "q_filter_not",
    "q_map",
    "q_map_values",
    "q_flat_map",
    "q_select_key",
    "q_branch",
    "q_merge",
    # operators/setops.py
    "q_sort_limit_topk",
    "q_global_sort",
    "q_union_all",
    "q_union_distinct",
    "q_intersect",
    # --- round-4 additions (appended chronologically as written) ---
    "q_stateful_punctuated_session",
    "q_tpch_q8_market_share",
    "q_tpch_q13_count_distribution",
    "q_tpch_q15_top_supplier",
    "q_tpch_q17_small_quantity",
    "q_tpch_q21_sole_latest_shipper",
    "q_tpch_q22_dormant_customers",
    "q_text_bpe_merge_step",
    "q_agg_ktable_regroup",
    "q_join_interval_overlap",
    "q_dedup_containment",
    "q_embed_mrl_overlap",
    "q_time_interpolate_linear",
    "q_tpch_q2_min_cost_supplier",
    "q_tpch_q9_product_profit",
    "q_tpch_q11_important_stock",
    "q_tpch_q12_priority_by_class",
    "q_tpch_q16_supplier_cnt",
    "q_tpch_q20_excess_suppliers",
    "q_text_unigram_lm",
    "q_text_chunk_overlap",
    "q_dedup_jaccard_prefix",
    "q_similarity_pq_fx",
    "q_join_bloom_prefilter",
    "q_time_ses_forecast",
    "q_window_cume_distinct",
    "q_text_keywords",
    "q_agg_mad_robust",
    "q_eval_auc",
    "q_eval_sketch_recall",
    "q_select_grouped_median",
    "q_sql_passthrough",
    "q_ts_similarity_search",
    "q_multimodal_frame_sample",
    "q_multimodal_features_checked",
    "q_basket_pair_affinity",
    "q_join_relational_division",
    "q_latency_histogram_quantiles",
    "q_alloc_largest_remainder",
    "q_skyline_pareto",
    "q_events_interval_scheduling",
    "q_events_dau_wau",
    "q_agg_welch_ttest",
    "q_agg_chi_square",
    "q_survival_kaplan_meier",
    # --- round-5 additions (appended chronologically as written) ---
    "q_eval_ann_recall",
    "q_graph_clustering_coeff",
    "q_text_heaps_law",
    "q_anomaly_cusum",
    "q_dedup_repeated_spans",
    "q_audit_benford",
    "q_dedup_report",
    "q_dq_constraint_suite",
    "q_er_symspell_match",
    "q_time_acf",
    "q_text_zipf_slope",
    "q_graph_adamic_adar",
    "q_time_lttb_downsample",
    "q_basket_triples_apriori",
    "q_time_holt_linear",
    "q_time_max_drawdown",
    "q_agg_ks_test",
    "q_text_bigram_lm",
    "q_agg_count_min_sketch",
    "q_text_mattr",
    "q_sql_recursive_paths",
    "q_agg_herfindahl",
    "q_embed_outlier_distance",
    "q_events_user_entropy",
    "q_events_time_to_convert",
    "q_graph_bfs_distance",
    "q_sort_zorder_layout",
    "q_source_schema_evolution",
    "q_text_burstiness",
    "q_agg_kruskal_wallis",
    "q_text_js_divergence",
    "q_time_sax_motifs",
    "q_agg_gini_concentration",
    "q_join_asof_forward",
    "q_eval_cluster_separation",
    "q_events_interarrival",
    "q_stream_lateness_histogram",
    "q_graph_assortativity",
    "q_fn_null_semantics",
    "q_time_bollinger",
    "q_text_cooccurrence_pmi",
    "q_sla_ship_latency",
    "q_events_hill_tail_index",
    "q_agg_spearman",
    "q_text_hapax_ratio",
    "q_agg_ols_regression",
    "q_agg_mann_whitney",
    "q_time_rsi",
    "q_time_changepoint",
    "q_power_user_curve",
    "q_merge_upsert",
    "q_ivm_merge_agg",
    "q_shuffle_skew_audit",
    "q_agg_theil_sen",
    "q_time_stl_additive",
    "q_eval_calibration_bins",
    "q_graph_kcore_peel",
    "q_agg_bitmap_weekdays",
    "q_agg_mutual_information",
    "q_drift_psi",
    "q_eval_forecast_backtest",
    "q_layout_pruning_audit",
    "q_events_window_funnel",
    "q_er_fellegi_sunter",
    "q_cdc_log_compaction",
    "q_alloc_water_filling",
    # round 6
    "q_agg_kmv_distinct",
    "q_agg_winsorized_mean",
    "q_alloc_dhondt",
    "q_eval_diff_in_diff",
    "q_time_cross_correlation",
    "q_er_sorted_neighborhood",
    "q_sample_systematic",
    "q_text_winnowing",
    "q_graph_label_propagation",
    "q_embed_kmeans_step",
    "q_events_clamped_balance",
    "q_events_path_trigrams",
    "q_join_spatial_grid",
    "q_source_csv_quarantine",
    "q_select_mmr_diverse",
    "q_customer_growth_accounting",
    "q_alloc_airport_shapley",
    "q_time_periodogram",
    "q_text_feature_hashing",
    "q_eval_propensity_matching",
    "q_agg_median_polish",
    "q_time_control_chart",
    "q_time_rescaled_range",
    "q_er_phonetic_blocking",
    "q_dq_reconciliation",
    "q_agg_runs_test",
    "q_alloc_fifo_inventory",
    "q_agg_anova_f",
    "q_dq_functional_dependency",
    "q_graph_hits",
    "q_pattern_v_shape",
    "q_time_page_hinkley",
    "q_eval_lift_gains",
    "q_agg_cohens_kappa",
    "q_text_tokenizer_fertility",
    "q_eval_permutation_test",
    "q_select_budget_knapsack",
    "q_events_littles_law",
    "q_multimodal_ahash_buckets",
    "q_ts_dtw_distance",
    "q_eval_bh_fdr",
    "q_embed_power_iteration",
    "q_dq_uniqueness_profile",
    "q_time_ewma_crossover",
    "q_agg_hodges_lehmann",
    "q_multimodal_frame_energy",
    "q_events_markov_stationary",
    "q_agg_bootstrap_ci",
    "q_graph_random_walks",
    "q_events_shapley_attribution",
    "q_agg_gumbel_maxima",
    "q_text_code_detection",
    "q_multimodal_alignment_audit",
    "q_setop_bag_semantics",
    "q_window_session_dynamic_gap",
    "q_source_json_quarantine",
    "q_eval_ndcg",
    "q_privacy_k_anonymity",
    "q_embed_semantic_clusters",
    "q_alloc_stable_matching",
    "q_ts_matrix_profile",
    "q_time_croston",
    "q_multimodal_phash_dct",
    "q_agg_ipf_raking",
    "q_sample_reservoir_bottomk",
    "q_agg_kmv_setops",
    "q_eval_brier_decomposition",
    "q_time_acf_ladder",
    "q_eval_mcnemar",
    "q_eval_roc_curve",
    "q_multimodal_shot_boundary",
    "q_agg_kendall_tau",
    "q_events_poisson_dispersion",
    # round 7
    "q_er_levenshtein_linkage",
    "q_time_pettitt",
    "q_alloc_huntington_hill",
    "q_embed_jl_projection",
    "q_graph_jaccard_neighbors",
    "q_join_interval_allen",
    "q_sample_class_balanced",
    "q_events_cuped",
    "q_multimodal_vad_runs",
    "q_text_char_trigram_perplexity",
    "q_select_kcenter_greedy",
    "q_alloc_set_cover_greedy",
    "q_agg_median_of_means",
    "q_time_ljung_box",
    "q_eval_two_proportion_z",
    # late-round-7 additions (r8 ledger backfill: these registered via
    # @query but missed their append — the registration-order fallback
    # in _ledger_order kept their window position identical, so this is
    # bookkeeping, not a behavior change)
    "q_stream_circuit_breaker",
    "q_text_naive_bayes",
    # round 8 (capped at 6 — r7 verdict item 1 — so the driver's 50-slot
    # window drains the never-green backlog before reaching these)
    "q_select_dsir_importance",
    "q_text_quality_per_lang_filter",
    "q_graph_modularity",
    "q_sample_group_kfold",
    "q_agg_pot_tail",
    "q_time_theta_forecast",
    # round 9 (capped at 2 — the 50-slot window must fit the 17-query
    # never-green drain plus the 12 pair-table rewrites and still spend
    # ~19 slots rotating stale r1 evidence)
    "q_agg_quantile_sketch_mergeable",
    "q_dedup_weighted_jaccard",
    # round 11 (capped at 4 new oracle-backed — the window must absorb
    # the four r11 rewrites' re-verification plus stale-evidence
    # rotation): decoding, causal eval, basket rules, feature binning
    "q_time_viterbi_decode",
    "q_eval_did_estimator",
    "q_basket_rules_confidence",
    "q_feature_decile_binning",
)

# Rows-only (no batch-SQL oracle) queries, pinned LAST in a fixed relative
# order so no verified-window slot is ever spent on a `no_oracle` row and
# the tail ordering is stable even if the driver's window grows past the
# oracle-backed count.
_WINDOW_TAIL = (
    "q_fn_hash_native",
    "q_agg_approx_percentile",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_similarity_ann_lsh",
    "q_similarity_ivf",
    "q_multimodal_features",
)


def _driver_green_rounds(root=None, *, pre_gate: bool = False) -> dict[str, int]:
    """Latest driver round each query was GREEN in, from the
    ``CORRECTNESS_r*.json`` files the driver writes to the repo root.
    ``pre_gate=True`` skips the hash-staleness gate — the callers use the
    difference (pre-gate green minus gated green) to identify REWRITTEN-
    since-green queries, which lead the verification queue.

    Green = the row ran without error, row counts matched, and (for
    oracle-backed queries) the value hash matched. An errored or
    mismatched latest row removes the query from the green set so it
    returns to the front of the verification window.

    Round-5 staleness gate: a green row from round R only counts if
    ``QUERY_HASHES.json`` records that the CURRENT implementation hash
    was already in place at round R (``hash == current and
    since_round <= R``) — a query rewritten after its green round
    re-enters the never-green tier. See ``qhash.py``. If the ledger
    file is absent the gate is skipped (legacy behavior).

    ``root`` is overridable for tests; production always reads the
    repo root this package sits in.
    """
    import json
    import re
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parents[1]
    root = Path(root)
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            )
            latest[name] = (rnd, ok)
    green = {n: rnd for n, (rnd, ok) in latest.items() if ok}
    if pre_gate:
        return green

    from . import qhash

    ledger = qhash.load_ledger(root)
    if ledger is not None:
        cur = qhash.current_hashes()
        # r9: the gate also checks the private-helper closure hash when
        # the ledger records one — a rewrite hidden entirely inside a
        # shared helper (the r8 advisor's blind spot) demotes every
        # consumer back into the verification window. Entries recorded
        # before r9 carry no "helpers" field and gate on the main hash
        # alone (migration rule, qhash.py docstring).
        cur_helpers: dict[str, str] | None = None
        if any("helpers" in rec for rec in ledger.values() if isinstance(rec, dict)):
            cur_helpers = qhash.current_helper_hashes()
        green = {
            n: rnd
            for n, rnd in green.items()
            if (rec := ledger.get(n)) is not None
            and rec.get("hash") == cur.get(n)
            and rec.get("since_round", 10**9) <= rnd
            and (
                "helpers" not in rec
                or cur_helpers is None
                or rec["helpers"] == cur_helpers.get(n)
            )
        }
    return green


def _ledger_order() -> list[str]:
    """Every registered query in ledger (age) order; names not yet in the
    ledger follow in registration order (they are the newest)."""
    ledger = [n for n in _QUERY_LEDGER if n in QUERIES]
    seen = set(ledger)
    return ledger + [n for n in QUERIES if n not in seen]


def _ordered_names() -> list[str]:
    """Never-driver-green oracle-backed queries first, then green ones
    oldest-evidence-first, then rows-only queries tail-pinned. Within the
    never-green tier (r6 verdict item 6): queries REWRITTEN after a green
    round (formerly green, demoted by the hash-staleness gate) lead, in
    ledger order, ahead of never-yet-verified new additions — a stale
    rewrite is a regression-in-waiting on already-claimed surface and
    must not queue behind ~90 newer queries for four rounds. See the
    _QUERY_LEDGER comment for the full policy."""
    green = _driver_green_rounds()
    stale_rewrites = set(_driver_green_rounds(pre_gate=True)) - set(green)
    order = _ledger_order()
    age = {n: i for i, n in enumerate(order)}
    tail_set = set(_WINDOW_TAIL)
    oracle_backed = [n for n in order if n in ORACLE and n not in tail_set]
    never = sorted(
        (n for n in oracle_backed if n not in green),
        key=lambda n: (0 if n in stale_rewrites else 1, age[n]),
    )
    verified = sorted(
        (n for n in oracle_backed if n in green),
        key=lambda n: (green[n], age[n]),
    )
    rows_only = [n for n in order if n not in ORACLE and n not in tail_set]
    tail = [n for n in _WINDOW_TAIL if n in QUERIES]
    return never + verified + rows_only + tail


def load_all() -> None:
    """Import every query module exactly once (idempotent)."""
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # a missing ENGINE module is a bug (typo'd registry entry must
            # not silently shrink the driver's verified surface); a missing
            # external optional dependency is tolerated
            if e.name and e.name.startswith("highload_kafka_streams_spark"):
                raise
    _loaded = True


def get_queries() -> dict[str, QueryFn]:
    load_all()
    return {n: QUERIES[n] for n in _ordered_names()}


def get_oracle_sql() -> dict[str, str]:
    load_all()
    ordered = _ordered_names()
    return {n: ORACLE[n] for n in ordered if n in ORACLE}
