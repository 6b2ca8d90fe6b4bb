#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full JSON record {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...} followed by a COMPACT one-line summary (same shape,
headline queries only) as the LAST stdout line — the driver keeps a
2000-char stdout tail, and the tail must always end with one parseable
record (r7 verdict item 2). The complete per-query data is also
persisted to BENCH_LOCAL_r{N}.json.

Headline set = one representative per operator class (SURVEY.md §2) so the
number tracks engine-wide health, not one hot loop. Each query executes via
a count-style action that forces full evaluation without collecting result
rows to the driver (100 TB posture: the driver never materializes data).

Timing methodology: one shared SparkSession (JVM startup excluded — matches
how a long-lived cluster runs), one warm-up pass of EACH query to
JIT/codegen-prime (steady-state throughput is the thing a long-lived
engine delivers), then two timed passes per query reporting the per-query
MINIMUM — this host is a shared VM with bursty steal time (observed 1.5-3×
uniform inflation on identical back-to-back runs), and min-of-2 recovers
the engine's own cost rather than the noisiest coincidence. BASELINE.md
anchors are DuckDB-at-sf0.1 measurements; Spark-local carries ~0.1-1 s
fixed per-action overhead, so `value` (total seconds) is the tracked
metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from highload_kafka_streams_spark import registry  # noqa: E402
from highload_kafka_streams_spark.session import get_spark  # noqa: E402

# Headline queries: one per §2 operator family, heaviest representative.
HEADLINE = [
    "q_pricing_summary",        # scan→filter→agg→sort (TPC-H Q1 shape)
    "q_join_stream_table",      # fact×snapshot equi-join
    "q_join_stream_stream_windowed",  # stream-stream windowed (range) join
    "q_join_asof",              # as-of join (merge-form window pass)
    "q_agg_cogroup",            # multi-stream co-aggregation
    "q_window_rank_topk",       # analytic window / per-group top-k
    "q_window_tumbling",        # event-time tumbling window agg
    "q_window_session",         # gap-based sessionization
    "q_fn_json",                # JSON extraction over events.props
    "q_dedup_exact",            # exact dedup over documents
    "q_dedup_minhash_lsh",      # MinHash+LSH near-dup (shuffle-heavy)
    "q_similarity_topk_cosine", # brute-force cosine top-k
    "q_text_tfidf",             # two-phase agg + join
]

# Extended set (r4, VERDICT item 9): the five heaviest non-headline
# LLM-pipeline stacks, timed and reported per-query so round-over-round
# regressions in them are visible. NOT in `value` — the headline total
# stays a like-for-like series against BENCH_r01..r03 and BASELINE.md;
# the extended total is reported separately.
EXTENDED = [
    "q_pipeline_curation",      # full curation cascade, one wide exchange
    "q_dedup_clusters",         # iterative connected components
    "q_graph_pagerank_fx",      # 3 fixed-point power iterations
    "q_similarity_ann_md5",     # LSH signatures + probe + re-rank
    "q_shard_packing",          # distributed two-pass prefix sum
    # r5 additions (extended_total_sec gains these entries vs r4 —
    # compare per-query, not the series total, across that boundary)
    "q_dedup_repeated_spans",   # span-level exact substring dedup
    "q_graph_clustering_coeff", # triangle-corner counts + degrees
    "q_graph_adamic_adar",      # hub-capped common-neighbor scoring
    "q_er_symspell_match",      # delete-neighborhood fuzzy linkage
    "q_graph_bfs_distance",     # 6-hop frontier loop (iterative)
]



# Round-6 additions as their own series (`r6_total_sec`, first measured
# in BENCH_r06 — no prior series to compare; per-query vs_prev starts
# next round): sketches, robust stats, resampling, blocking, and the
# two new iterative ops.
R6 = [
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
    "q_select_mmr_diverse",
    "q_customer_growth_accounting",
    "q_text_feature_hashing",
    "q_eval_propensity_matching",
    "q_agg_median_polish",
    "q_time_control_chart",
    "q_er_phonetic_blocking",
    "q_dq_reconciliation",
    # late-round-6 additions (ledger matching, link analysis, DTW,
    # multimodal near-dup, power iteration — the heavier new shapes)
    "q_alloc_fifo_inventory",
    "q_graph_hits",
    "q_eval_permutation_test",
    "q_events_littles_law",
    "q_multimodal_ahash_buckets",
    "q_ts_dtw_distance",
    "q_eval_bh_fdr",
    "q_embed_power_iteration",
    "q_agg_hodges_lehmann",
    "q_eval_lift_gains",
    # final round-6 batch (iterative matching, mutual-kNN CC, bounded
    # all-pairs profile, spectral hash, graded retrieval eval)
    "q_alloc_stable_matching",
    "q_embed_semantic_clusters",
    "q_ts_matrix_profile",
    "q_multimodal_phash_dct",
    "q_eval_ndcg",
]

# Round-7 additions as their own series (`r7_total_sec`, first measured
# in BENCH_LOCAL_r07): linkage, changepoint, apportionment, projection
# audit, link prediction, interval algebra, balanced sampling, CUPED,
# VAD runs, char-LM surprisal, and the three greedy/robust selections.
R7 = [
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
]

# Round-8 additions as their own series (`r8_total_sec`, first measured
# in BENCH_LOCAL_r08): data selection, per-group relative filtering,
# community quality, split hygiene, tail risk, Theta forecasting.
R8 = [
    "q_select_dsir_importance",
    "q_text_quality_per_lang_filter",
    "q_graph_modularity",
    "q_sample_group_kfold",
    "q_agg_pot_tail",
    "q_time_theta_forecast",
]

# Round-9 additions as their own series (`r9_total_sec`, first measured
# in BENCH_LOCAL_r09): the mergeable quantile sketch and the weighted
# near-dup scorer.
R9 = [
    "q_agg_quantile_sketch_mergeable",
    "q_dedup_weighted_jaccard",
]

# Round-10 additions as their own series (`r10_total_sec`, first
# measured in BENCH_LOCAL_r10): agreement, calibration repair, privacy,
# weighted sampling, rule gating, conformal intervals, ROUGE, Kalman.
R10 = [
    "q_eval_krippendorff_alpha",
    "q_eval_isotonic_calibration",
    "q_privacy_l_diversity",
    "q_sample_pps_bottomk",
    "q_text_gopher_rules",
    "q_agg_conformal_interval",
    "q_eval_rouge_overlap",
    "q_time_kalman_1d",
    "q_privacy_t_closeness",
    "q_sample_neyman_allocation",
    "q_privacy_dp_noisy_count",
]

# Round-11 additions as their own series (`r11_total_sec`, first
# measured in BENCH_LOCAL_r11): Viterbi decoding, DiD, basket rules,
# decile binning.
R11 = [
    "q_time_viterbi_decode",
    "q_eval_did_estimator",
    "q_basket_rules_confidence",
    "q_feature_decile_binning",
]

# TPC-H group (r4): all 22 adapted TPC-H shapes as their own series —
# the classic composite-join/agg workload, reported as `tpch_total_sec`
# starting this round (not in `value`, same reasoning as EXTENDED).
TPCH = [
    "q_pricing_summary",  # Q1 (also in HEADLINE; timed once, reused)
    "q_tpch_q2_min_cost_supplier",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q4_order_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q6_forecast_revenue",
    "q_tpch_q7_volume_shipping",
    "q_tpch_q8_market_share",
    "q_tpch_q9_product_profit",
    "q_tpch_q10_returned_items",
    "q_tpch_q11_important_stock",
    "q_tpch_q12_priority_by_class",
    "q_tpch_q13_count_distribution",
    "q_tpch_q14_promo_revenue",
    "q_tpch_q15_top_supplier",
    "q_tpch_q16_supplier_cnt",
    "q_tpch_q17_small_quantity",
    "q_tpch_q18_large_orders",
    "q_tpch_q19_disjunctive",
    "q_tpch_q20_excess_suppliers",
    "q_tpch_q21_sole_latest_shipper",
    "q_tpch_q22_dormant_customers",
]


def _scrape_tail(data: dict) -> dict | None:
    """Best-effort recovery of a driver BENCH file whose `parsed` is null.

    The driver records only a 2000-char stdout TAIL; once the queries
    dict outgrew it (round 6), `parsed` became null and vs_prev silently
    produced nothing — which is exactly how a 693 s outlier shipped
    without a flag. The tail still holds most of the per-query JSON, so
    scrape `"q_*": <num>` pairs and any trailing series totals out of
    the raw string rather than giving up."""
    import re

    tail = data.get("tail")
    if not isinstance(tail, str):
        return None
    # r7 advisor: the tail also contains vs_prev's `ratios` /
    # `flagged_over_1_3x` maps, whose '"q_*": <num>' pairs would
    # OVERWRITE real timings in the comprehension below (feeding ~1.0
    # ratio values into next round's drift math as seconds). Only the
    # text before the first vs_prev block holds timings.
    cut = tail.find('"vs_prev"')
    if cut != -1:
        tail = tail[:cut]
    queries = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"(q_\w+)":\s*(-?\d+(?:\.\d+)?)', tail)
    }
    if not queries:
        return None
    out: dict = {"queries": queries, "sf": data.get("sf")}
    for key in ("value", "extended_total_sec", "tpch_total_sec", "r6_total_sec"):
        m = re.search(rf'"{key}":\s*(-?\d+(?:\.\d+)?)', tail)
        if m:
            out[key] = float(m.group(1))
    return out


def _prev_bench(here: str, cur_round: int) -> tuple[int, dict] | None:
    """Best prior-round bench data: highest round < cur_round, preferring
    the harness's own full-JSON `BENCH_LOCAL_r{N}.json` over the driver's
    truncated `BENCH_r{N}.json` tail for the same round. Feeds `vs_prev`
    (VERDICT r4 item 3, artifact self-ownership r6 item 2): per-query
    drift ratios computed by the harness itself so >1.3x regressions
    surface as data instead of a host-noise shrug."""
    import glob
    import re

    # round -> (priority, data); LOCAL files (priority 1) beat driver tails,
    # and the builder's canonical BENCH_LOCAL beats the side-by-side
    # BENCH_LOCAL_r{N}_driver.json written when the canonical is committed
    candidates: dict[int, tuple[float, dict]] = {}
    for pattern, prio in (("BENCH_LOCAL_r*.json", 1.0), ("BENCH_r*.json", 0.0)):
        for path in glob.glob(os.path.join(here, pattern)):
            name = os.path.basename(path)
            if prio == 0 and name.startswith("BENCH_LOCAL"):
                continue  # glob overlap guard
            file_prio = 0.5 if name.endswith("_driver.json") else prio
            m = re.search(r"r(\d+)", name)
            if not m:
                continue
            rnd = int(m.group(1))
            if rnd >= cur_round:
                continue
            try:
                with open(path) as f:
                    data = json.load(f)
            except (OSError, ValueError):
                continue
            # the driver wraps our JSON line under a "parsed" key
            if isinstance(data, dict) and isinstance(data.get("parsed"), dict):
                data = data["parsed"]
            elif isinstance(data, dict) and "queries" not in data:
                data = _scrape_tail(data) or data
            if not isinstance(data, dict) or "queries" not in data:
                continue
            have = candidates.get(rnd)
            if have is None or file_prio > have[0]:
                candidates[rnd] = (file_prio, data)
    if not candidates:
        return None
    rnd = max(candidates)
    return rnd, candidates[rnd][1]


def _current_round(here: str) -> int:
    """Round in progress: $SPARK_GRAFT_ROUND, else one past the newest
    driver-written BENCH_r{N}.json (the driver writes it at round end)."""
    import glob
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if not os.path.basename(path).startswith("BENCH_LOCAL")
        for m in [re.search(r"r(\d+)", os.path.basename(path))]
        if m
    ]
    return max(rounds, default=0) + 1


def _is_committed_clean(path: str) -> bool:
    """True iff `path` is git-tracked with no uncommitted modification —
    i.e. it already holds a round artifact somebody committed on purpose
    and this process must not clobber it (see the BENCH_LOCAL dual-source
    rule below). Any git failure (no repo, no binary) returns False so
    the legacy overwrite behavior is the fallback."""
    import subprocess

    if not os.path.exists(path):
        return False
    try:
        tracked = subprocess.run(
            ["git", "ls-files", "--error-unmatch", os.path.basename(path)],
            cwd=_HERE, capture_output=True, timeout=10,
        ).returncode == 0
        if not tracked:
            return False
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", os.path.basename(path)],
            cwd=_HERE, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return dirty == ""
    except (OSError, subprocess.SubprocessError):
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark(app_name="hks-bench")
    # Scaling observability (r11 verdict item 2): the driver's low-core
    # re-run flagged `suspect_cpus_ignored` because nothing in the
    # output PROVED the session honored $SPARK_GRAFT_CPUS. Echo the
    # session's effective master / parallelism in both the full artifact
    # and the compact line so "honored but overhead-bound at this SF"
    # is distinguishable from "ignored". (At sf0.1 the ~0.3–0.7 s fixed
    # per-action cost dominates, so per-query core ratios stay ≈1; the
    # committed SCALE_CORES_r12 probe shows the ratio emerging at a
    # compute-dominated fixture size.)
    env_block = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        # batch width before AQE coalesces (r12 artifacts record 32 here)
        "shuffle_partitions": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ),
        # streaming state/sink width, sized to the cores by configure_session
        "stream_state_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        # the file: filesystem (NioLocalFileSystem from get_spark on a local
        # master; Hive's ProxyLocalFileSystem is the classpath default)
        "local_fs": spark._jvm.org.apache.hadoop.fs.FileSystem.get(
            spark._jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
        ).getClass().getSimpleName(),
    }
    queries = registry.get_queries()

    all_names = list(dict.fromkeys(HEADLINE + EXTENDED + TPCH + R6 + R7 + R8 + R9 + R10 + R11))
    names = [n for n in all_names if n in queries]
    missing = [n for n in all_names if n not in queries]
    if missing:
        print(f"WARNING: missing headline queries: {missing}", file=sys.stderr)
    # SPARK_GRAFT_BENCH_ONLY="q_a,q_b": time just those queries — the
    # scale-check flag-remeasure protocol (r7 verdict item 3) re-runs
    # flagged queries back-to-back at both scales without paying for the
    # full ~140-query sweep. Partial runs never overwrite the round's
    # BENCH_LOCAL artifact (guarded below).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]

    # warm-up: prime codegen/JIT, Python workers, parquet footer caches.
    # Each query's build releases the previous query's caches
    # (registry.scoped_persist), so caches never accumulate across the
    # sweep (at 10× fixtures ~45 queries' worth exhausted unified memory).
    for name in names:
        # progress to stderr: when a query dies at a big fixture (r7: an
        # sf1 broadcast OOM was undiagnosable from the logs), the last
        # line names the culprit
        print(f"warmup {name}", file=sys.stderr, flush=True)
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # SPARK_GRAFT_BENCH_RUNS: timed passes per query (default 2,
    # best-of). The scale-linearity harness sets 1 — with the driver-loop
    # iteratives in the set, best-of-2 at a 10x fixture pushes the wall
    # past its subprocess budget, and RATIOS between two same-protocol
    # runs are what it needs, not absolute best-case numbers.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    # Memo observability (r9 advisor): pair-table consumers read a
    # materialized parquet after the first consumer's warm-up pays the
    # build, so their timings measure the memo, not the derivation.
    # Snapshot hit counters around each query and record which timings
    # were memo-served (plus the cold build seconds, paid in warm-up)
    # directly in the artifact so round-over-round comparisons can
    # separate the two.
    from highload_kafka_streams_spark.io import memo_stats

    memo_served: dict[str, list[str]] = {}
    for name in names:
        print(f"timing {name}", file=sys.stderr, flush=True)
        best, worst = float("inf"), 0.0
        hits_before = memo_stats()["hits"]

        def _pass() -> float:
            nonlocal best, worst
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            # force full evaluation of every row/column without driver collect
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best, worst = min(best, dt), max(worst, dt)
            return dt

        for _ in range(runs):
            _pass()
        # Stall rescue (r9): a multi-minute host stall can span BOTH
        # passes of several consecutive queries (observed: a contiguous
        # 6-query block 4-17x slow in one canonical run, all confirmed
        # in_context_noise by fresh-JVM remeasure). When the two passes
        # disagree by >3x the stall likely clipped only one of them —
        # take up to two extra passes so the reported min reflects the
        # engine, not the noisiest coincidence. min stays the statistic,
        # so the series remains comparable round-over-round. Stop as soon
        # as a rescue pass lands within 3x of best (r9 advisor: `worst`
        # only grows, so re-checking it would always burn both passes
        # even after the first rescue confirmed a fast time).
        extra = 0
        while runs >= 2 and worst > 3 * best and extra < 2:
            print(f"  stall-rescue pass for {name}", file=sys.stderr, flush=True)
            dt = _pass()
            extra += 1
            if dt <= 3 * best:
                break
        timings[name] = round(best, 3)
        hits_after = memo_stats()["hits"]
        kinds = sorted(
            k for k, n in hits_after.items() if n > hits_before.get(k, 0)
        )
        if kinds:
            memo_served[name] = kinds

    # Late-window drift retry (r9): a stall can cover BOTH passes of a
    # query (the contiguous-block case above — worst/best stays ~1 and
    # the per-query rescue never fires). Queries that look >2x slower
    # than last round get ONE more best-of-2 measurement at the END of
    # the sweep — minutes later, so the windows are decorrelated — and
    # keep the overall min. Same statistic, more samples, only for
    # suspects; capped so a genuine broad regression still surfaces
    # instead of burning unbounded wall time.
    prev_for_retry = _prev_bench(_HERE, _current_round(_HERE))
    if runs >= 2 and prev_for_retry is not None and prev_for_retry[1].get("sf") == sf:
        prev_q = prev_for_retry[1].get("queries", {})
        suspects = [
            n
            for n, t in timings.items()
            if isinstance(prev_q.get(n), (int, float))
            and prev_q[n] > 0
            and t / prev_q[n] > 2.0
        ][:12]
        for name in suspects:
            print(f"drift-retry {name}", file=sys.stderr, flush=True)
            best = timings[name]
            for _ in range(2):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)

    total = round(sum(timings[n] for n in HEADLINE if n in timings), 3)
    extended_total = round(sum(timings[n] for n in EXTENDED if n in timings), 3)
    tpch_total = round(sum(timings[n] for n in TPCH if n in timings), 3)
    r6_total = round(sum(timings[n] for n in R6 if n in timings), 3)
    r7_total = round(sum(timings[n] for n in R7 if n in timings), 3)
    r8_total = round(sum(timings[n] for n in R8 if n in timings), 3)
    r9_total = round(sum(timings[n] for n in R9 if n in timings), 3)
    r10_total = round(sum(timings[n] for n in R10 if n in timings), 3)
    r11_total = round(sum(timings[n] for n in R11 if n in timings), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env": env_block,
        "extended_total_sec": extended_total,
        "tpch_total_sec": tpch_total,
        "r6_total_sec": r6_total,
        "r7_total_sec": r7_total,
        "r8_total_sec": r8_total,
        "r9_total_sec": r9_total,
        "r10_total_sec": r10_total,
        "r11_total_sec": r11_total,
        # which timed queries read a memoized pair table instead of
        # deriving it, and what the cold builds cost (paid during
        # warm-up; {kind: {"sec": total, "count": n}} ACCUMULATED over
        # in-run rebuilds per the r10 advice) — so memo-read timings are
        # never mistaken for derivation timings in drift analysis
        "memo_served": memo_served,
        "memo_build_sec": memo_stats()["builds"],
    }
    cur_round = _current_round(_HERE)
    prev = _prev_bench(_HERE, cur_round)
    # drift ratios only make sense against the same scale factor (a
    # custom $SPARK_GRAFT_SF_DIR run must not "regress" vs sf0.1)
    if prev is not None and prev[1].get("sf") == sf:
        rnd, data = prev
        prev_q = data.get("queries", {})
        ratios = {
            n: round(t / prev_q[n], 2)
            for n, t in timings.items()
            if isinstance(prev_q.get(n), (int, float)) and prev_q[n] > 0
        }
        flagged = {n: r for n, r in sorted(ratios.items()) if r > 1.3}
        # Host-speed normalization (r8, control-set estimator r9): this
        # VM's speed shifts between rounds by a UNIFORM factor (observed
        # 1.5x slower across every untouched query on an idle box). The
        # host factor is estimated from the TPC-H CONTROL SET — pure
        # Catalyst plans that are deliberately never touched round to
        # round — instead of the median over ALL ratios (r8 advisor: an
        # all-ratios median would absorb a genuine uniform regression in
        # a shared helper and normalize it away; the control set only
        # absorbs drift in code that did not change). Falls back to the
        # all-ratios median when the control set is absent from the run.
        def _median(xs: list[float]) -> float:
            xs = sorted(xs)
            n = len(xs)
            if n == 0:
                return 1.0
            mid = n // 2
            return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0

        control = [ratios[n] for n in TPCH if n in ratios]
        host_factor = _median(control if len(control) >= 5 else list(ratios.values()))
        norm_flagged = (
            {
                n: round(r / host_factor, 2)
                for n, r in sorted(ratios.items())
                if r / host_factor > 1.3
            }
            if host_factor > 0
            else {}
        )
        prev_total = data.get("value")
        out["vs_prev"] = {
            "round": rnd,
            "headline_ratio": (
                round(total / prev_total, 3)
                if isinstance(prev_total, (int, float)) and prev_total > 0
                else None
            ),
            "host_factor_control_median": round(host_factor, 2),
            "host_factor_source": (
                "tpch_control" if len(control) >= 5 else "all_ratios_median"
            ),
            "flagged_over_1_3x": flagged,
            "flagged_host_normalized": norm_flagged,
            "ratios": ratios,
        }
    # Absolute outlier flag (VERDICT r6 item 2): a query >30x the series
    # median is a phash-class expression defect, not host noise — fail
    # LOUDLY on stderr even with no prior round to compare against.
    vals = sorted(timings.values())
    median = vals[len(vals) // 2] if vals else 0.0
    outliers = {
        n: t for n, t in sorted(timings.items())
        if median > 0 and t > 30 * median
    }
    out["outliers_over_30x_median"] = outliers
    if outliers:
        print(
            f"OUTLIER WARNING: {len(outliers)} query(ies) exceed 30x the "
            f"series median ({median:.3f}s): {outliers}",
            file=sys.stderr,
        )
    # Self-owned full artifact: the driver's BENCH_r{N}.json keeps only a
    # 2000-char stdout tail, which truncated to garbage in round 6 and
    # killed vs_prev. The harness persists its OWN complete JSON so the
    # next round always has a full prior to diff against. Commit it.
    local_path = os.path.join(_HERE, f"BENCH_LOCAL_r{cur_round:02d}.json")
    if sf_dir == "/root/testdata/sf0.1" and runs >= 2 and not only:
        # only the canonical protocol overwrites the round artifact — and
        # never a COMMITTED one (r8 verdict item 5: the driver's own bench
        # run overwrote the builder's committed canonical artifact, losing
        # one of the two measurements). If the round's BENCH_LOCAL is
        # already committed clean, this run is the driver's (or a re-run):
        # record it side-by-side as BENCH_LOCAL_r{N}_driver.json so both
        # measurements survive for drift analysis.
        if _is_committed_clean(local_path):
            local_path = os.path.join(
                _HERE, f"BENCH_LOCAL_r{cur_round:02d}_driver.json"
            )
        with open(local_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    print(json.dumps(out))
    # The driver's BENCH_r{N}.json records only a 2000-char stdout TAIL;
    # the full JSON above outgrew it in round 6 (`parsed: null`, r7
    # verdict item 2). Emit a compact self-contained summary as the LAST
    # line — headline per-query timings, every series total, the worst
    # drift flags — small enough that the tail always ends with one
    # parseable record. The full artifact lives in BENCH_LOCAL_r{N}.json.
    compact = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": sf,
        "extended_total_sec": extended_total,
        "tpch_total_sec": tpch_total,
        "r6_total_sec": r6_total,
        "r7_total_sec": r7_total,
        "r8_total_sec": r8_total,
        "r9_total_sec": r9_total,
        "r10_total_sec": r10_total,
        "r11_total_sec": r11_total,
        "n_queries_timed": len(timings),
        "n_memo_served": len(memo_served),
        "memo_build_sec": memo_stats()["builds"],
        "env": env_block,
        "full_artifact": os.path.basename(local_path),
    }
    if outliers:
        compact["outliers_over_30x_median"] = dict(
            sorted(outliers.items(), key=lambda kv: -kv[1])[:10]
        )
    if "vs_prev" in out:
        vp = out["vs_prev"]
        compact["vs_prev"] = {
            "round": vp["round"],
            "headline_ratio": vp["headline_ratio"],
            "host_factor_control_median": vp["host_factor_control_median"],
            "host_factor_source": vp["host_factor_source"],
            # r8 advisor: keep the RAW flagged dict visible alongside the
            # normalized one — a genuine uniform regression shows up raw
            # even when normalization hides it (both truncated to worst 8
            # so the compact line stays inside the driver's 2000-char tail)
            "flagged_raw": dict(
                sorted(vp["flagged_over_1_3x"].items(), key=lambda kv: -kv[1])[:8]
            ),
            "flagged_host_normalized": dict(
                sorted(
                    vp["flagged_host_normalized"].items(),
                    key=lambda kv: -kv[1],
                )[:8]
            ),
            "n_flagged_raw": len(vp["flagged_over_1_3x"]),
            "n_flagged_host_normalized": len(vp["flagged_host_normalized"]),
        }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
