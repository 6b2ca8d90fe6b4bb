"""Public LLM API over arbitrary (non-fixture) frames."""

import pandas as pd
from pyspark.sql import functions as F

from highload_kafka_streams_spark.llm import api


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (3, "the quick brown fox leaps over the lazy dog"),   # near dup
        (4, "completely different text about spark engines here"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_and_drop_duplicates(spark):
    c = _corpus(spark)
    dups = api.exact_duplicates(c).collect()
    assert {(r["keep_doc_id"], r["n_copies"]) for r in dups} == {
        (1, 2), (3, 1), (4, 1)
    }
    kept = api.drop_exact_duplicates(c)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4]


def test_minhash_near_duplicates_api(spark):
    c = _corpus(spark)
    pairs = api.minhash_near_duplicates(c, threshold=0.5).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in found            # identical docs always collide
    assert all(p[0] < p[1] for p in found)
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_minhash_signatures_survive_short_and_null_docs(spark):
    """Docs with fewer than n tokens (NULL, empty, 1 or 2 words) get a
    signature instead of failing the job under ANSI element_at; docs with
    at least n tokens keep the signature their word n-grams define.
    NULL and empty docs never pair, not even with each other; a short doc
    pairs only with a doc of exactly its text."""
    from highload_kafka_streams_spark.llm.dedup import (
        _MERSENNE,
        N_PERM,
        _perm_consts,
    )

    docs = [
        (1, None),
        (2, ""),
        (3, "solo"),
        (4, "two words"),
        (5, "two words"),
        (6, "the quick brown fox jumps"),
        (7, "a b c"),
        (8, "a b c a b c"),
        (9, None),
        (10, ""),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {r["doc_id"]: list(r["sig"]) for r in api.minhash_signatures(d).collect()}
    assert sorted(sigs) == [doc_id for doc_id, _ in docs]
    assert all(len(sig) == N_PERM for sig in sigs.values())
    assert sigs[4] == sigs[5]
    # reference for the >= 3-token docs: Spark's xxhash64 of each word
    # trigram, permuted and minimized here in Python
    consts = _perm_consts(N_PERM)
    for doc_id, text in docs:
        toks = (text or "").split(" ")
        if text is None or len(toks) < 3:
            continue
        grams = [toks[i : i + 3] for i in range(len(toks) - 2)]
        row = spark.range(1).select(
            *[
                F.xxhash64(*[F.lit(t) for t in g]).alias(f"g{j}")
                for j, g in enumerate(grams)
            ]
        ).first()
        hs = [h % _MERSENNE for h in row]
        want = [min((h * a + b) % _MERSENNE for h in hs) for a, b in consts]
        assert sigs[doc_id] == want, doc_id
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in api.minhash_near_duplicates(d).collect()
    }
    assert pairs == {(4, 5)}  # 7 and 8 share 1 of 3 trigrams


def test_cosine_top_k_api(spark):
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                "label": [0, 0, 1],
                "embedding": [
                    [1.0] + [0.0] * 63,
                    [0.8] + [0.6] + [0.0] * 62,
                    [0.0, 1.0] + [0.0] * 62,
                ],
            }
        )
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    q = spark.createDataFrame(
        pd.DataFrame({"qe": [[1.0] + [0.0] * 63]})
    ).withColumn("qe", F.col("qe").cast("array<float>"))
    top = api.cosine_top_k(emb, q, k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-9


def test_token_stats_api(spark):
    c = _corpus(spark)
    stats = {r["token"]: (r["tf"], r["df"]) for r in api.token_stats(c).collect()}
    assert stats["the"] == (6, 3)
    assert stats["fox"] == (3, 3)
    assert stats["spark"] == (1, 1)


def test_mask_normalize_dedup_window_api(spark):
    from highload_kafka_streams_spark.llm.api import (
        dedup_within_window,
        mask_pii,
        normalize_corpus,
    )

    corpus = spark.createDataFrame(
        [
            (1, "contact Me at bob@example.com NOW!!"),
            (2, "visit https://x.test/page or call 1234567"),
        ],
        "doc_id long, text string",
    )
    masked = {r["doc_id"]: r["text"] for r in mask_pii(corpus).collect()}
    assert "<EMAIL>" in masked[1] and "bob@" not in masked[1]
    assert "<URL>" in masked[2] and "<NUM>" in masked[2]
    norm = {r["doc_id"]: r["text"] for r in normalize_corpus(corpus).collect()}
    assert norm[1] == "contact me at bob example com now"

    import pandas as pd

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "user_id": [7, 7, 7],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:01", "2024-01-01 00:05", "2024-01-01 00:20"]
                ),
            }
        )
    )
    kept = dedup_within_window(ev, ["user_id"], "ts", "event_id")
    assert {r["event_id"] for r in kept.collect()} == {1, 3}


def test_stratified_and_decontaminate_api(spark):
    from highload_kafka_streams_spark.llm.api import (
        decontaminate,
        stratified_sample,
    )

    corpus = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"doc text number {i} alpha beta gamma delta")
         for i in range(200)],
        "doc_id long, lang string, text string",
    )
    kept = stratified_sample(corpus, "doc_id", "lang", {"en": 0.1, "de": 0.9})
    by_lang = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["de"] > by_lang.get("en", 0)  # rates actually differ
    # determinism under partitioning
    kept2 = stratified_sample(
        corpus.repartition(7), "doc_id", "lang", {"en": 0.1, "de": 0.9}
    )
    assert {r["doc_id"] for r in kept.collect()} == {
        r["doc_id"] for r in kept2.collect()
    }

    bench = corpus.filter(F.col("doc_id") == 0).select("doc_id", "text")
    # doc 0's text shares no 5-gram with others (unique number token in
    # the middle), so only doc 0 itself is contaminated
    clean = decontaminate(corpus, bench, n=5)
    ids = {r["doc_id"] for r in clean.collect()}
    assert 0 not in ids and len(ids) == 199


def test_quantize_embeddings_api(spark):
    from highload_kafka_streams_spark.llm.api import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[1]["qv"] == [64, -127, 32]  # 0.5/1*127+0.5 floor = 64
    assert rows[2]["qv"] == [0, 0, 0]  # zero vector: guarded scale
    assert all(-127 <= q <= 127 for q in rows[1]["qv"])


def test_ann_lsh_recall_vs_exact(spark, sf_smoke):
    """ANN quality gate: the LSH candidate set's top-10 must recover a
    meaningful share of the exact top-10 (random-hyperplane LSH on
    random 64-dim data is approximate — assert a floor, not equality;
    the floor is far above chance: 10 random picks of ~N would overlap
    the true top-10 by < 1 with high probability). Also: every ANN hit
    must carry the EXACT cosine (re-rank is exact inside candidates)."""
    from highload_kafka_streams_spark.registry import get_queries

    qs = get_queries()
    exact = qs["q_similarity_topk_cosine"](spark, sf_smoke).collect()
    ann = qs["q_similarity_ann_lsh"](spark, sf_smoke).collect()
    assert len(ann) > 0
    exact_by_id = {r["vec_id"]: r["cos_sim"] for r in exact}
    overlap = [r for r in ann if r["vec_id"] in exact_by_id]
    assert len(overlap) >= 3, (
        f"LSH top-{len(ann)} recovered only {len(overlap)} of exact top-10"
    )
    for r in overlap:  # exact re-rank: scores must match to the bit
        assert abs(r["cos_sim"] - exact_by_id[r["vec_id"]]) < 1e-12


def test_ivf_probe_is_exact_within_list(spark, sf_smoke):
    """IVF probes ONE inverted list: its results must equal the exact
    brute-force top-k restricted to that probed label — the approximation
    is the list choice, never the scoring."""
    import pyspark.sql.functions as F2

    from highload_kafka_streams_spark.io import load_table as lt
    from highload_kafka_streams_spark.llm.similarity import cosine
    from highload_kafka_streams_spark.registry import get_queries

    got = get_queries()["q_similarity_ivf"](spark, sf_smoke).collect()
    assert len(got) > 0
    probe_label = got[0]["label"]
    assert all(r["label"] == probe_label for r in got)
    emb = lt(spark, sf_smoke, "embeddings")
    qvec = F2.broadcast(
        emb.filter(F2.col("vec_id") == 0).select(
            F2.col("embedding").alias("qe")
        )
    )
    want = (
        emb.filter(
            (F2.col("label") == probe_label) & (F2.col("vec_id") != 0)
        )
        .crossJoin(qvec)
        .select(
            "vec_id",
            cosine(F2.col("embedding"), F2.col("qe")).alias("cos_sim"),
        )
        .orderBy(F2.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_duplicate_clusters_matches_union_find(spark):
    """Distributed min-label CC must equal a reference union-find on an
    adversarial graph: a chain (transitive closure depth), a triangle,
    an isolated pair — pairwise-dropping logic would over- or
    under-delete on the chain."""
    from highload_kafka_streams_spark.llm.dedup import duplicate_clusters

    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),      # chain -> root 1
        (10, 11), (11, 12), (10, 12),        # triangle -> root 10
        (20, 21),                            # pair -> root 20
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["cluster_root"])
        for r in duplicate_clusters(df).collect()
    }

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {(x, find(x)) for x in parent}
    assert got == want


def test_curate_corpus_api(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!!"),  # normalizes to dup of 1
        (3, "tiny"),                                           # fails min_tokens
        (4, "a b c d e f g"),                                  # avg token len 1 -> fails
        (5, "a perfectly reasonable document about spark engines"),
    ]
    c = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    kept = sorted(r["doc_id"] for r in api.curate_corpus(c).collect())
    assert kept == [1, 5]


def test_exact_quantiles_api(spark):
    df = spark.range(1, 1002).select(
        (F.col("id").cast("double") / 10.0).alias("v")
    )
    med, p90, mx = api.exact_quantiles(df, "v", [0.5, 0.9, 1.0])
    # type-1 quantiles of 0.1..100.1 step 0.1 (n=1001)
    assert med == 50.1
    assert p90 == 90.1
    assert mx == 100.1


def test_kth_smallest_heavy_duplication(spark):
    # a column where the histogram range stops splitting (all mass in
    # one value) must terminate via the lo==hi short-circuit
    from highload_kafka_streams_spark.operators.selection import kth_smallest

    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 990, 7.0).otherwise(F.col("id").cast("double")).alias("v")
    )
    assert kth_smallest(df, "v", 500, extract_threshold=10) == 7.0
    assert kth_smallest(df, "v", 991, extract_threshold=10) == 990.0


def test_incremental_dedup_api(spark):
    from highload_kafka_streams_spark.llm.api import incremental_dedup
    from pyspark.sql import functions as F

    seen = spark.createDataFrame(
        [("already seen",)], ["text"]
    ).select(F.md5("text").alias("digest"))
    batch = spark.createDataFrame(
        [
            (1, "already seen"),
            (2, "fresh one"),
            (3, "fresh one"),
            (4, "another fresh"),
        ],
        ["doc_id", "text"],
    )
    out = incremental_dedup(batch, seen)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4]


def test_temperature_weights_api(spark):
    from highload_kafka_streams_spark.llm.api import temperature_weights

    corpus = spark.createDataFrame(
        [(i, "big") for i in range(90)] + [(i, "small") for i in range(10)],
        ["doc_id", "lang"],
    )
    rows = {r["lang"]: r for r in temperature_weights(corpus).collect()}
    assert abs(sum(r["p_sample"] for r in rows.values()) - 1.0) < 1e-9
    assert rows["small"]["boost"] > 1.0 > rows["big"]["boost"]
    # sqrt flattening: 90/10 raw ratio becomes 3/1 in weights
    assert abs(rows["big"]["p_sample"] / rows["small"]["p_sample"] - 3.0) < 1e-3


def test_cap_per_class_api(spark):
    from highload_kafka_streams_spark.llm.api import cap_per_class

    corpus = spark.createDataFrame(
        [(i, "a" if i < 40 else "b") for i in range(50)], ["doc_id", "src"]
    )
    out = cap_per_class(corpus, "src", 5)
    by = {r["src"]: 0 for r in out.collect()}
    for r in out.collect():
        by[r["src"]] += 1
    assert by == {"a": 5, "b": 5}
    # repartition must not change the selection
    again = cap_per_class(corpus.repartition(13, "doc_id"), "src", 5)
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_embedding_dim_stats_api(spark):
    from highload_kafka_streams_spark.llm.api import embedding_dim_stats

    emb = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, 4.0])], ["vec_id", "embedding"]
    )
    rows = {r["dim"]: r for r in embedding_dim_stats(emb).collect()}
    assert rows[0]["n"] == 2 and rows[0]["mn"] == 1.0 and rows[0]["mx"] == 3.0
    assert rows[1]["sum6"] == 2_000_000  # (-2 + 4) * 1e6


def test_importance_weights_api(spark):
    """Docs sharing the target sub-corpus's vocabulary must out-score
    docs whose tokens never appear in the target; weights are
    deterministic and partitioning-invariant."""
    rows = [
        (1, "alpha beta gamma delta", 1),
        (2, "alpha beta gamma epsilon", 1),
        (3, "alpha beta gamma zeta", 0),      # target-like non-target
        (4, "omega psi chi phi", 0),          # off-distribution
    ]
    c = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "tgt"])
    )
    w = api.importance_weights(c, F.col("tgt") == 1)
    got = {r["doc_id"]: r["avg_wppm"] for r in w.collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3] > got[4], got
    again = {
        r["doc_id"]: r["avg_wppm"]
        for r in api.importance_weights(
            c.repartition(7), F.col("tgt") == 1
        ).collect()
    }
    assert got == again


def test_relative_quality_filter_api(spark):
    """Strictly-below-threshold keep per group: with scores 1..10 in one
    group, keep_percent=90 keeps 1..9 (threshold lands on 10); a group
    whose scores are all equal keeps nothing (threshold = that score,
    strict <)."""
    rows = [("a", i, i) for i in range(1, 11)] + [
        ("b", 100 + j, 5) for j in range(4)
    ]
    c = spark.createDataFrame(
        pd.DataFrame(rows, columns=["grp", "doc_id", "score"])
    )
    kept = api.relative_quality_filter(c, "score", "grp", keep_percent=90)
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8, 9], got


def test_group_kfold_api(spark):
    """Same group -> same fold always; folds in [0, k); assignment
    survives repartitioning."""
    rows = [(u, e) for u in range(40) for e in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["user", "event"]))
    f1 = api.group_kfold(df, "user", k=5)
    per_user = (
        f1.groupBy("user")
        .agg(F.countDistinct("fold").alias("nf"), F.min("fold").alias("f"))
        .collect()
    )
    assert all(r["nf"] == 1 for r in per_user)
    assert all(0 <= r["f"] < 5 for r in per_user)
    m1 = {r["user"]: r["f"] for r in per_user}
    m2 = {
        r["user"]: r["f"]
        for r in api.group_kfold(df.repartition(11), "user", k=5)
        .groupBy("user").agg(F.min("fold").alias("f")).collect()
    }
    assert m1 == m2
