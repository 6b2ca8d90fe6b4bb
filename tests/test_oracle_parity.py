"""Local replica of the driver's t2 gate: every oracle-backed query must
hash-match DuckDB at the correctness scale factor (sf0.01).

r12 lane split (verdict item 1 — the driver's pytest window closed at
39% of the 59–74 min suite, so a green suite was invisible to it):
the EXHAUSTIVE 420-query sweep is marked ``slowlane`` and deselected
by default (`pytest.ini` addopts); the default lane keeps a
deterministic ~25-query sample covering every operator family plus
every query the current optimization round touched. Nothing is
deleted: the full sweep still collects, and runs with
``python -m pytest tests/ -m "slowlane or not slowlane"`` (the
round-end ritual, recorded in OPTIMIZATION_r12.md) — the same
exhaustive coverage also runs as the committed preflight
(``python -m highload_kafka_streams_spark.plans.oracle``) and as the
driver's own t2 gate every round.

A thread-precomputed variant (8 driver threads, guide §2.6) was
measured first and REJECTED: the sweep is GIL-bound (query
construction + pandas canonicalization, not Spark execution), so it
saved nothing (~25 min either way) and destabilized the shared-session
suite run."""

import pytest

from highload_kafka_streams_spark import registry
from highload_kafka_streams_spark.plans.oracle import compare_one, duck_connect


def _oracle_names():
    return sorted(registry.get_oracle_sql())


# default-lane sample: every query touched by the r12 optimization
# round + one representative per operator family (SURVEY.md §2)
FAST_SAMPLE = [
    # r12-touched
    "q_eval_rouge_overlap",
    "q_ts_matrix_profile",
    "q_alloc_fifo_inventory",
    "q_dedup_repeated_spans",
    "q_er_symspell_match",
    "q_agg_conformal_interval",
    # r11-touched (persist scoping this round)
    "q_graph_hits",
    "q_tpch_q2_min_cost_supplier",
    "q_graph_jaccard_neighbors",
    "q_graph_label_propagation",
    "q_multimodal_ahash_buckets",
    # one per family
    "q_pricing_summary",
    "q_join_asof",
    "q_window_session",
    "q_agg_cogroup",
    "q_fn_json",
    "q_dedup_exact",
    "q_similarity_topk_cosine",
    "q_text_tfidf",
    "q_tpch_q9_product_profit",
    "q_multimodal_vad_runs",
    "q_eval_ndcg",
    "q_time_viterbi_decode",
    "q_basket_rules_confidence",
    "q_privacy_t_closeness",
]


@pytest.fixture(scope="module")
def duck(sf_oracle):
    return duck_connect(sf_oracle)


@pytest.mark.slowlane
@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_match(spark, duck, sf_oracle, name):
    res = compare_one(spark, duck, sf_oracle, name)
    assert res.ok, f"{name}: {res.detail}"


@pytest.mark.parametrize("name", FAST_SAMPLE)
def test_oracle_match_fast_sample(spark, duck, sf_oracle, name):
    res = compare_one(spark, duck, sf_oracle, name)
    assert res.ok, f"{name}: {res.detail}"


def test_fast_sample_names_are_registered():
    unknown = [n for n in FAST_SAMPLE if n not in registry.get_oracle_sql()]
    assert not unknown, unknown


def test_container_outputs_rejected(spark):
    """The driver canonicalizer errs on top-level array/map columns
    (shipped the same bug two rounds running) — the local gate must
    REJECT such shapes, never pass where the driver would err."""
    import pyspark.sql.functions as F

    from highload_kafka_streams_spark.plans.oracle import (
        ContainerOutputError,
        _reject_container_cols,
    )

    arr = spark.range(3).select(F.array(F.col("id")).alias("a"))
    with pytest.raises(ContainerOutputError, match="q_bad.*\\['a'\\]"):
        _reject_container_cols("q_bad", arr)
    mp = spark.range(3).select(
        F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    with pytest.raises(ContainerOutputError, match="'m'"):
        _reject_container_cols("q_bad_map", mp)
    ok = spark.range(3).select(
        F.array_join(F.array(F.col("id").cast("string")), ",").alias("a")
    )
    _reject_container_cols("q_ok", ok)  # stringified → accepted


def test_no_oracle_backed_query_emits_containers(spark, sf_smoke):
    """Schema-level sweep: every oracle-backed query's output must be
    container-free. No query is executed, but building all of them is
    not free (~2.5 min): each ``load_table`` runs a parquet
    schema-inference job, and the iterative builders run their
    driver-side loop actions."""
    from highload_kafka_streams_spark.plans.oracle import _reject_container_cols

    qs = registry.get_queries()
    for name in _oracle_names():
        _reject_container_cols(name, qs[name](spark, sf_smoke))
