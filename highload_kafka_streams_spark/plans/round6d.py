"""Round-6 continuation (d) — retrieval-quality evaluation, privacy
auditing, and semantic (embedding-graph) clustering.

Same house rules as round6b/c (SURVEY.md §5): exact BIGINT arithmetic
or one deterministic fixed-point step per emitted value; `DIV`/`//`
integer division only; transcendental constants fixed-pointed ONCE in
Python at import and interpolated as integer literals into BOTH
engines; deterministic total orders under every LIMIT / row_number.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist
from highload_kafka_streams_spark.llm.similarity import _DOT_SQL, cosine

# ---------------------------------------------------------------------------
# q_eval_ndcg — graded-retrieval quality of the brute-force cosine ranker
# ---------------------------------------------------------------------------

_NDCG_K = 10
# 1/log2(rank+1) discount, fixed-pointed once at import (integer
# literals reach both engines — the q_time_periodogram discipline).
_DCG_W = tuple(
    int(math.floor(1_000_000 / math.log2(r + 1) + 0.5))
    for r in range(1, _NDCG_K + 1)
)
# prefix sums: ideal DCG for j relevant docs in the top-k (binary gain)
_IDCG_PFX = tuple(
    sum(_DCG_W[:j]) for j in range(1, _NDCG_K + 1)
)

_W_SQL = "[" + ", ".join(str(w) for w in _DCG_W) + "]"
_PFX_SQL = "[" + ", ".join(str(p) for p in _IDCG_PFX) + "]"
_W_SPARK = "array(" + ", ".join(str(w) for w in _DCG_W) + ")"
_PFX_SPARK = "array(" + ", ".join(str(p) for p in _IDCG_PFX) + ")"


@query(
    "q_eval_ndcg",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qe
  FROM embeddings WHERE vec_id < 20
),
corpus AS (SELECT * FROM embeddings WHERE vec_id >= 20),
nrel AS (
  SELECT q.q_id, CAST(count(*) AS BIGINT) AS n_rel
  FROM q JOIN corpus c ON c.label = q.q_label
  GROUP BY q.q_id
),
scored AS (
  SELECT q.q_id, c.vec_id,
         CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS rel,
         ({_DOT_SQL.format(a='c.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM corpus c, q, (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY q.q_id, c.vec_id, c.label, q.q_label
),
ranked AS (
  SELECT q_id, rel,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
),
topk AS (
  SELECT q_id,
         CAST(SUM(rel * ({_W_SQL})[rn]) AS BIGINT) AS dcg_fx,
         CAST(SUM(rel) AS BIGINT) AS hits,
         CAST(coalesce(MAX(CASE WHEN rel = 1
                                THEN 1000000 // rn END), 0) AS BIGINT)
           AS rr_fx
  FROM ranked WHERE rn <= {_NDCG_K}
  GROUP BY q_id
)
SELECT t.q_id,
       nrel.n_rel,
       t.hits,
       CAST(CASE WHEN nrel.n_rel > 0
                 THEN (t.dcg_fx * 1000000)
                      // ({_PFX_SQL})[least(nrel.n_rel, {_NDCG_K})]
                 ELSE 0 END AS BIGINT) AS ndcg_fx,
       t.rr_fx
FROM topk t JOIN nrel ON nrel.q_id = t.q_id
ORDER BY t.q_id
""",
)
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval-quality evaluation of the cosine ranker —
    NDCG@10, reciprocal rank, and hit count per query, with the
    cluster label as binary relevance ground truth (the standard
    eval loop for an embedding-search stack: q_eval_ann_recall
    measures the APPROXIMATE index against the exact ranker; this
    measures the exact ranker against LABELS). The log2 rank
    discounts and ideal-DCG prefix sums are fixed-pointed once at
    import and enter both engines as integer literals, so
    ndcg = dcg·1e6 // idcg[min(n_rel,k)] is pure BIGINT arithmetic.

    Scale shape: the 20-query panel broadcasts; scoring is one narrow
    corpus pass (corpus × bounded-query cross product); the per-query
    top-10 rides ONE row_number window partitioned by q_id over
    k-bounded candidates. Relevance totals are a (label)-grain rollup
    joined back at panel cardinality. At a 1000-executor scale the
    query panel stays driver-bounded (eval sets are thousands, not
    corpus-sized) — the corpus never self-joins."""
    from highload_kafka_streams_spark.llm.similarity import fdot

    emb = load_table(spark, sf_dir, "embeddings")
    # r11 (guide §1.2 per-task work): hoist the norms OUT of the
    # query × corpus cross product. cosine() expands to three fdot HOF
    # chains per scored row (~3 × 64 interpreted lambda steps); the
    # corpus norm is constant per corpus row and the query norm per
    # query row, so computing them in the pre-join projections does
    # 1× fdot per scored row instead of 3×. Same IEEE ops in the same
    # order (dot / (sqrt_na * sqrt_nb)), so cos_sim is bit-identical —
    # the oracle re-verified at sf0.01 and sf0.1.
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.sqrt(fdot(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    nrel = (
        corpus.groupBy("label").agg(F.count("*").alias("n_rel"))
        .join(F.broadcast(q.select("q_id", "q_label")),
              F.col("label") == F.col("q_label"))
        .select("q_id", "n_rel")
    )
    scored = corpus.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(fdot(F.col("embedding"), F.col("embedding"))).alias("cn"),
    ).crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
        (fdot(F.col("embedding"), F.col("qe")) / (F.col("cn") * F.col("qn")))
        .alias("cos_sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    topk = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NDCG_K)
        .groupBy("q_id")
        .agg(
            F.sum(
                F.col("rel") * F.expr(f"element_at({_W_SPARK}, rn)")
            ).cast("long").alias("dcg_fx"),
            F.sum("rel").cast("long").alias("hits"),
            F.coalesce(
                F.max(
                    F.when(F.col("rel") == 1, F.expr("1000000 DIV rn"))
                ),
                F.lit(0),
            ).cast("long").alias("rr_fx"),
        )
    )
    return (
        topk.join(F.broadcast(nrel), "q_id")
        .select(
            "q_id",
            "n_rel",
            "hits",
            F.expr(
                f"CAST(CASE WHEN n_rel > 0 THEN (dcg_fx * 1000000)"
                f" DIV element_at({_PFX_SPARK},"
                f" CAST(least(n_rel, {_NDCG_K}) AS INT))"
                f" ELSE 0 END AS BIGINT)"
            ).alias("ndcg_fx"),
            "rr_fx",
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# q_privacy_k_anonymity — re-identification risk audit
# ---------------------------------------------------------------------------

_SENS_SQL = """CASE WHEN c_acctbal < 0 THEN -1
             ELSE CAST(FLOOR(c_acctbal) AS BIGINT) // 2000 END"""
_SENS_SPARK = """CASE WHEN c_acctbal < 0 THEN CAST(-1 AS BIGINT)
             ELSE CAST(FLOOR(c_acctbal) AS BIGINT) DIV 2000 END"""


@query(
    "q_privacy_k_anonymity",
    oracle=f"""
WITH sens AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         {_SENS_SQL} AS s
  FROM customer
),
lvl1 AS (
  SELECT CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS qi,
         CAST(count(*) AS BIGINT) AS sz,
         CAST(count(DISTINCT s) AS BIGINT) AS l_div
  FROM sens GROUP BY 1
),
lvl2 AS (
  SELECT r.r_name || '|' || s.c_mktsegment AS qi,
         CAST(count(*) AS BIGINT) AS sz,
         CAST(count(DISTINCT s.s) AS BIGINT) AS l_div
  FROM sens s
  JOIN nation n ON n.n_nationkey = s.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1
),
lvls AS (
  SELECT 'nation|segment' AS level, * FROM lvl1
  UNION ALL
  SELECT 'region|segment' AS level, * FROM lvl2
)
SELECT level,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(sz) AS BIGINT) AS k_anonymity,
       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unsafe_classes,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST((SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000)
            // SUM(sz) AS BIGINT) AS risk_ppm,
       CAST(min(l_div) AS BIGINT) AS l_diversity
FROM lvls
GROUP BY level
ORDER BY level
""",
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy gate a training-data pipeline runs before releasing any
    user-derived table. Equivalence classes at two generalization
    levels ((nation, segment) and the coarser (region, segment)):
    k-anonymity = the smallest class, rows-at-risk = members of
    classes below k=5, l-diversity = the least-diverse class's count
    of distinct sensitive values (banded account balance). The coarser
    level must dominate (larger k, fewer unsafe rows) — the audit
    quantifies how much generalization buys.

    Scale shape: each level is ONE hash rollup on the QI tuple (the
    dimension joins broadcast — nation 25 rows, region 5), then a
    bounded class-table summary; the union is class-cardinality, never
    row-cardinality. No windows, no fact-fact joins."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    sens = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr(_SENS_SPARK).alias("s"),
    )
    lvl1 = sens.groupBy(
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        ).alias("qi")
    ).agg(
        F.count("*").alias("sz"),
        F.countDistinct("s").alias("l_div"),
    )
    lvl2 = (
        sens.join(
            F.broadcast(nation),
            sens["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(
            F.concat(
                F.col("r_name"), F.lit("|"), F.col("c_mktsegment")
            ).alias("qi")
        )
        .agg(
            F.count("*").alias("sz"),
            F.countDistinct("s").alias("l_div"),
        )
    )
    both = lvl1.withColumn("level", F.lit("nation|segment")).unionByName(
        lvl2.withColumn("level", F.lit("region|segment"))
    )
    return (
        both.groupBy("level")
        .agg(
            F.count("*").alias("n_classes"),
            F.min("sz").cast("long").alias("k_anonymity"),
            F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_unsafe_classes"),
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.expr(
                "CAST((SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000)"
                " DIV SUM(sz) AS BIGINT)"
            ).alias("risk_ppm"),
            F.min("l_div").cast("long").alias("l_diversity"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# q_embed_semantic_clusters — mutual-kNN graph + connected components
# ---------------------------------------------------------------------------

_KNN_K = 3


# md5-derived sub-cell: first 4 hex nibbles of md5('sc:'||vec_id) mod the
# data-proportional sub-cell count (r6 verdict item 4: a FIXED 10-label
# vocabulary is not a coarse quantizer — cell population grows linearly
# with the corpus, so label-only blocking is O(n²/10)). nsub =
# greatest(1, n DIV 640) targets ~64 vectors per (label, sub) cell
# (10 labels × 64 ≈ 640 rows per sub-cell step), so within-cell kNN work
# is n × O(64) — linear. DuckDB reproduces the nibbles via strpos.
_SC_NIBBLE_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5('sc:' || CAST(vec_id AS "
    f"VARCHAR)), {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
    for j in range(4)
)


@query(
    "q_embed_semantic_clusters",
    oracle=f"""
WITH meta AS (
  SELECT greatest(CAST(1 AS BIGINT), CAST(count(*) AS BIGINT) // 640) AS nsub
  FROM embeddings
),
sub AS (
  SELECT vec_id, label, embedding,
         CAST(({_SC_NIBBLE_SQL}) AS BIGINT) % (SELECT nsub FROM meta) AS sc
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ({_DOT_SQL.format(a='a.embedding', b='b.embedding')})
         / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
            * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
           AS cos_sim
  FROM sub a
  JOIN sub b ON a.label = b.label AND a.sc = b.sc AND a.vec_id <> b.vec_id,
       (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY a.vec_id, b.vec_id
),
knn AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src
                            ORDER BY cos_sim DESC, dst) AS rn
  FROM pairs
),
directed AS (SELECT src, dst FROM knn WHERE rn <= {_KNN_K}),
mutual AS (
  SELECT e1.src AS u, e1.dst AS v
  FROM directed e1 JOIN directed e2
    ON e1.src = e2.dst AND e1.dst = e2.src
  WHERE e1.src < e1.dst
),
edges AS (
  SELECT u, v FROM mutual UNION ALL SELECT v, u FROM mutual
)
SELECT u AS vec_id, least(u, min(v)) AS cluster_root
FROM (
  WITH RECURSIVE reach AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
  ) SELECT u, v FROM reach
) t
GROUP BY u
ORDER BY vec_id
""",
)
def q_embed_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus: exact kNN (k=3)
    inside each coarse cell — (label, md5 sub-cell) — kept only where
    MUTUAL (both endpoints choose each other — the standard trick that
    prevents hub vectors from chaining unrelated regions), then
    connected components over the mutual graph. Embedding-side
    semantic dedup — the near-dup family's third axis after n-gram
    Jaccard and MinHash.

    Scale shape (r6 verdict item 4): the label vocabulary is FIXED
    (10 values), so label-only cells grow linearly with the corpus and
    within-cell kNN would be O(n²/10). Each label cell is therefore
    sub-bucketed by md5(vec_id) mod a DATA-PROPORTIONAL count —
    nsub = max(1, n DIV 640) targets ~64 vectors per (label, sub)
    cell — making candidate generation n × O(64), linear. The count
    enters the plan as a broadcast 1-row frame (no driver action);
    DuckDB mirrors the same integer rule via a scalar subquery.

    Fused-kernel shape (r8, second cut): after the r8a CC cut the
    residual ~5-6 s was the EDGE BUILD — a within-cell self-join whose
    per-pair fixed-point dot runs as a zip_with/aggregate HOF chain,
    plus a row_number window and a mutual self-join. Every one of
    those stages is cell-local, so the whole pipeline (pairwise dots →
    top-k → mutual filter → union-find) now runs inside ONE
    applyInPandas kernel per (label, sub-cell) group: one shuffle of
    (vec_id, embedding) rows, then a vectorized numpy kernel whose
    fixed-point arithmetic replays fdot bit-for-bit (float32→float64
    widening is exact; (x·y)·1e12, floor(+0.5), int64 sum — all IEEE
    ops in the same order as the JVM expression, so cos_sim is
    IDENTICAL, not approximately equal; ranking uses the same
    (cos desc, vec_id asc) tie order). The staged DataFrame form is
    kept as _semantic_mutual_knn_edges for the plan-shape tests, and
    test_semantic_fused_kernel_equals_staged_pipeline pins the
    equivalence on real fixture data. At 100 TB this is the canonical
    IVF shape: linear cell count, bounded O(64²·d) work per cell,
    embarrassingly parallel, no window/self-join shuffles. General
    (cross-cell) pair graphs still use duplicate_clusters — the
    shortcut is valid exactly because the blocking key is part of the
    edge-generation contract. DuckDB pins the same fixpoint through
    its RECURSIVE closure over the identical edge set."""
    emb = load_table(spark, sf_dir, "embeddings")
    nsub = emb.agg(
        F.expr("greatest(CAST(1 AS BIGINT), count(*) DIV 640)").alias("nsub")
    )
    cells = emb.crossJoin(F.broadcast(nsub)).select(
        F.col("label").alias("blk"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("sc:"), F.col("vec_id").cast("string"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % F.col("nsub")
        ).alias("sblk"),
        "vec_id",
        "embedding",
    )
    return (
        cells.groupBy("blk", "sblk")
        .applyInPandas(_sc_cell_cluster, "vec_id long, cluster_root long")
        .orderBy("vec_id")
    )


def _sc_cell_cluster(pdf):
    """One (label, sub-cell) group's COMPLETE clustering: exact
    pairwise fixed-point cosine (bit-identical to llm.similarity.fdot:
    per element floor((x·y)·1e12 + 0.5) as int64, order-free integer
    sum, /1e12; norms from the diagonal; cos = ab/(√aa·√bb) in the
    same IEEE op order), k=3 nearest by (cos desc, vec_id asc), mutual
    filter, then union-by-min connected components (_sc_cell_cc's
    algorithm inlined on the local edge list). NaN cos (zero-norm
    vector) sorts FIRST like Spark's NaN-greatest double order."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"vec_id": [], "cluster_root": []}).astype("int64")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    E = np.asarray(
        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
    )
    # fdot replay: (x*y)*SCALE, floor(+0.5), int64, sum over dims
    prods = np.floor((E[:, None, :] * E[None, :, :]) * 1e12 + 0.5).astype(
        np.int64
    )
    dots = prods.sum(axis=2)
    fd = dots.astype(np.float64) / 1e12
    norm = np.sqrt(np.diag(fd))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = fd / np.outer(norm, norm)
    directed: set[tuple[int, int]] = set()
    for i in range(n):
        row = cos[i].copy()
        key = np.where(np.isnan(row), -np.inf, -row)
        cand = np.lexsort((ids, key))
        picked = 0
        for j in cand:
            if j == i:
                continue
            directed.add((int(ids[i]), int(ids[j])))
            picked += 1
            if picked == _KNN_K:
                break
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in directed:
        if u < v and (v, u) in directed:
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    nodes = sorted(parent)
    return pd.DataFrame(
        {
            "vec_id": np.asarray(nodes, dtype=np.int64),
            "cluster_root": np.asarray(
                [find(x) for x in nodes], dtype=np.int64
            ),
        }
    )


def _sc_cell_cc(pdf):
    """Union-find connected components over one (label, sub-cell)
    block's mutual-kNN edges: every vector in the block that appears in
    an edge gets its component's MINIMUM vec_id as cluster_root —
    identical semantics to duplicate_clusters, computed locally because
    edges are cell-contained by construction. Path-halving find +
    union-by-min keeps each tree rooted at its minimum member."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame(
        {"vec_id": nodes, "cluster_root": [find(n) for n in nodes]}
    )


def _semantic_mutual_knn_edges(
    spark: SparkSession, sf_dir: str, *, with_cell: bool = False
) -> DataFrame:
    """Mutual-kNN edge build for q_embed_semantic_clusters, exposed as
    its own frame so tests can assert the candidate join's plan shape.
    ``with_cell=True`` keeps the (blk, sblk) blocking key on each edge —
    both endpoints share it by construction — so the caller can run
    connected components cell-locally."""
    emb = load_table(spark, sf_dir, "embeddings")
    nsub = emb.agg(
        F.expr(
            "greatest(CAST(1 AS BIGINT), count(*) DIV 640)"
        ).alias("nsub")
    )
    sub = emb.crossJoin(F.broadcast(nsub)).select(
        "vec_id",
        "label",
        "embedding",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("sc:"), F.col("vec_id").cast("string"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % F.col("nsub")
        ).alias("sc"),
    )
    a = sub.select(
        F.col("label").alias("blk"),
        F.col("sc").alias("sblk"),
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
    )
    b = sub.select(
        F.col("label").alias("blk"),
        F.col("sc").alias("sblk"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        a.join(b, ["blk", "sblk"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "blk",
            "sblk",
            "src",
            "dst",
            cosine(F.col("ea"), F.col("eb")).alias("cos_sim"),
        )
    )
    wsrc = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    directed = (
        pairs.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _KNN_K)
        .select("blk", "sblk", "src", "dst")
    )
    e2 = directed.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    )
    mutual = (
        directed.join(
            e2,
            (directed["src"] == e2["r_dst"]) & (directed["dst"] == e2["r_src"]),
        )
        .filter(F.col("src") < F.col("dst"))
    )
    cols = (["blk", "sblk"] if with_cell else []) + [
        F.col("src").alias("doc_a"),
        F.col("dst").alias("doc_b"),
    ]
    return mutual.select(*cols)


# ---------------------------------------------------------------------------
# q_alloc_stable_matching — parallel Gale–Shapley (proposer-optimal)
# ---------------------------------------------------------------------------

_GS_LIST = 8     # bounded candidate list per proposer (blocking output)
_GS_ROUNDS = 24  # fixed synchronous rounds; idempotent once converged

# Band-prefix LENGTH derived from receiver-table size (r6 verdict item
# 3: a FIXED 16-band split is suppliers×parts/16 — a quadratic with a
# constant divisor). Integer CASE ladder, identical in both engines:
# one more hex char per 16× more parts, so the expected per-proposer
# candidate population n_parts/16^blen stays in [16, 256) — always
# enough to fill the 8-deep proposal list, never data-quadratic; band
# pair volume is suppliers × O(256), linear.
_GS_BLEN_CASE = """CASE WHEN {n} < 4096 THEN 1
              WHEN {n} < 65536 THEN 2
              WHEN {n} < 1048576 THEN 3
              WHEN {n} < 16777216 THEN 4
              WHEN {n} < 268435456 THEN 5
              WHEN {n} < 4294967296 THEN 6
              WHEN {n} < 68719476736 THEN 7
              ELSE 8 END"""

_GS_CAND_SQL = f"""
meta AS (
  SELECT {_GS_BLEN_CASE.format(n='count(*)')} AS blen FROM part
),
sb AS (
  SELECT s_suppkey AS s,
         substr(md5('sb:' || CAST(s_suppkey AS VARCHAR)), 1,
                (SELECT blen FROM meta)) AS band
  FROM supplier
),
pb AS (
  SELECT p_partkey AS r,
         substr(md5('pb:' || CAST(p_partkey AS VARCHAR)), 1,
                (SELECT blen FROM meta)) AS band
  FROM part
),
scored AS (
  SELECT sb.s, pb.r,
         md5('c:' || CAST(sb.s AS VARCHAR) || ':'
                  || CAST(pb.r AS VARCHAR)) AS ckey,
         md5('r:' || CAST(pb.r AS VARCHAR) || ':'
                  || CAST(sb.s AS VARCHAR)) AS rkey
  FROM sb JOIN pb ON pb.band = sb.band
),
cand AS MATERIALIZED (
  SELECT s, r, rkey, idx FROM (
    SELECT s, r, rkey,
           CAST(row_number() OVER (PARTITION BY s ORDER BY ckey)
                AS INTEGER) AS idx
    FROM scored
  ) WHERE idx <= {_GS_LIST}
),
st0 AS MATERIALIZED (
  SELECT DISTINCT s, 1 AS ptr,
         CAST(NULL AS BIGINT) AS match_r,
         CAST(NULL AS VARCHAR) AS match_rkey,
         CAST(NULL AS INTEGER) AS match_idx
  FROM cand
)"""


def _gs_round_sql(i: int) -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # state ~3x, so un-materialized CTE inlining expands 3^rounds copies
    # of the base scan (observed as a too-many-open-files bomb).
    return f""",
bids{i} AS MATERIALIZED (
  SELECT st.s, c.r, c.rkey, c.idx
  FROM st{i} st JOIN cand c ON c.s = st.s AND c.idx = st.ptr
  WHERE st.match_r IS NULL AND st.ptr <= {_GS_LIST}
  UNION ALL
  SELECT s, match_r, match_rkey, match_idx
  FROM st{i} WHERE match_r IS NOT NULL
),
win{i} AS MATERIALIZED (
  SELECT r, min_by(s, rkey) AS ws, min(rkey) AS wrkey,
         min_by(idx, rkey) AS widx
  FROM bids{i} GROUP BY r
),
st{i + 1} AS MATERIALIZED (
  SELECT st.s,
         CASE WHEN st.match_r IS NULL AND st.ptr <= {_GS_LIST}
              THEN st.ptr + 1 ELSE st.ptr END AS ptr,
         w.r AS match_r, w.wrkey AS match_rkey, w.widx AS match_idx
  FROM st{i} st
  LEFT JOIN (SELECT ws AS s, r, wrkey, widx FROM win{i}) w
    ON w.s = st.s
)"""


_GS_FINAL_SQL = f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM st{_GS_ROUNDS}) AS n_proposers,
       (SELECT CAST(count(DISTINCT r) AS BIGINT) FROM cand) AS n_receivers,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM st{_GS_ROUNDS}
        WHERE match_r IS NOT NULL) AS n_matched,
       (SELECT CAST(count(*) AS BIGINT) FROM st{_GS_ROUNDS}
        WHERE match_r IS NULL AND ptr > {_GS_LIST})
         AS n_exhausted_unmatched,
       (SELECT CAST(count(*) AS BIGINT) FROM st{_GS_ROUNDS}
        WHERE match_r IS NULL AND ptr <= {_GS_LIST}) AS n_active_end,
       (SELECT CAST(coalesce(SUM(match_idx), 0) AS BIGINT)
        FROM st{_GS_ROUNDS}) AS sum_regret,
       (SELECT CAST(count(*) AS BIGINT)
        FROM cand c
        JOIN st{_GS_ROUNDS} st ON st.s = c.s
        LEFT JOIN (SELECT match_r AS r, match_rkey
                   FROM st{_GS_ROUNDS} WHERE match_r IS NOT NULL) rm
          ON rm.r = c.r
        WHERE (st.match_r IS NULL OR c.idx < st.match_idx)
          AND (st.match_r IS NULL OR st.match_r <> c.r)
          AND (rm.r IS NULL OR c.rkey < rm.match_rkey))
         AS n_blocking_pairs
"""

_GS_ORACLE = (
    "WITH " + _GS_CAND_SQL
    + "".join(_gs_round_sql(i) for i in range(_GS_ROUNDS))
    + _GS_FINAL_SQL
)


@query("q_alloc_stable_matching", oracle=_GS_ORACLE)
def q_alloc_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable matching (proposer-optimal Gale–Shapley) between
    suppliers and parts — the assignment operator entity-resolution
    and marketplace pipelines need once candidates exist: after
    blocking (md5 band equality — the same bounded-candidate recipe
    as the ER family) each supplier holds a ranked list of at most 8
    parts and proposes down it in SYNCHRONOUS rounds; each part holds
    its best proposal so far (receiver quality improves monotonically,
    so rounds are idempotent after convergence). The round-parallel
    variant (McVitie–Wilson) reaches the same unique proposer-optimal
    stable matching as the sequential algorithm, which is what makes
    it distributable at all. n_blocking_pairs re-verifies stability
    INSIDE the query (0 at convergence); n_active_end pins that the
    fixed round budget actually converged; sum_regret is the
    proposer-side objective the proposer-optimality guarantees
    minimal.

    Custom-operator lane (b) — r8 rewrite (the key-local pattern that
    cut semantic clusters 3x): candidate edges exist ONLY between a
    supplier and a part in the SAME md5 band (both sides are banded
    before the equi-join), so each band is an independent matching
    instance — no proposal, eviction, or blocking pair can cross
    bands. The previous form ran {_GS_ROUNDS} driver-loop rounds of
    join + min_by + join-back (2 jobs/round of fixed scheduling cost =
    the suite's heaviest query at ~10 s/sf0.1 despite tiny data); now
    ONE shuffle groups candidates by band and an Arrow-batched pandas
    kernel (applyInPandas) replays the IDENTICAL synchronous protocol
    — same list build (row_number by ckey, depth 8), same round
    budget, same early exit, same blocking-pair audit — over each
    bounded group, emitting per-band partial counts that a final
    1-row SUM merges. The oracle's unrolled round CTEs are unchanged;
    the kernel is semantics-equivalent by construction, not by
    re-derivation.

    Scale shape: the blen CASE ladder (locked in
    test_stable_matching_band_length_scales_with_parts) keeps expected
    per-band receivers in [16, 256), so kernel groups are
    O(suppliers_in_band x 256) rows — bounded, never data-quadratic —
    and band count grows linearly with the part table: embarrassingly
    parallel at 100 TB with zero synchronization between rounds
    (rounds happen inside one task). Partial aggregation (per-band
    counts -> global SUM) is the same mergeable-summary discipline as
    the HLL/KMV family."""
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    # data-proportional band-prefix length (see _GS_BLEN_CASE): one
    # broadcast 1-row frame, no driver action
    blen = part.agg(
        F.expr(_GS_BLEN_CASE.format(n="count(*)")).alias("blen")
    )
    sb = sup.crossJoin(F.broadcast(blen)).select(
        F.col("s_suppkey").alias("s"),
        F.expr(
            "substr(md5(concat('sb:', CAST(s_suppkey AS STRING))), 1, blen)"
        ).alias("band"),
    )
    pb = part.crossJoin(F.broadcast(blen)).select(
        F.col("p_partkey").alias("r"),
        F.expr(
            "substr(md5(concat('pb:', CAST(p_partkey AS STRING))), 1, blen)"
        ).alias("band"),
    )
    scored = sb.join(pb, "band").select(
        "band",
        "s",
        "r",
        F.md5(
            F.concat(
                F.lit("c:"),
                F.col("s").cast("string"),
                F.lit(":"),
                F.col("r").cast("string"),
            )
        ).alias("ckey"),
        F.md5(
            F.concat(
                F.lit("r:"),
                F.col("r").cast("string"),
                F.lit(":"),
                F.col("s").cast("string"),
            )
        ).alias("rkey"),
    )
    partials = scored.groupBy("band").applyInPandas(
        _gs_band_kernel, _GS_PARTIAL_SCHEMA
    )
    agg_cols = [
        F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
        for c in _GS_OUT_COLS
    ]
    return partials.agg(*agg_cols)


_GS_OUT_COLS = (
    "n_proposers",
    "n_receivers",
    "n_candidate_pairs",
    "n_matched",
    "n_exhausted_unmatched",
    "n_active_end",
    "sum_regret",
    "n_blocking_pairs",
)
_GS_PARTIAL_SCHEMA = ", ".join(f"{c} long" for c in _GS_OUT_COLS)


def _gs_band_kernel(pdf):
    """One band's complete Gale–Shapley instance, replaying the exact
    synchronous protocol the oracle unrolls as CTEs (_gs_round_sql):

    - candidate list: per proposer, candidates ordered by ckey,
      1-based idx, depth <= _GS_LIST (the row_number window, local);
    - each round, FREE proposers (no match, ptr <= _GS_LIST) bid their
      ptr-th candidate IF the list reaches that deep, HELD proposers
      re-bid their current match; each receiver keeps the min-rkey
      bid; every free proposer advances ptr whether or not it bid or
      won (short lists still burn rounds — the SQL CASE does too);
    - early exit when no proposer is free with ptr <= _GS_LIST
      (converged state is a fixed point: held re-bids win again);
    - after min(_GS_ROUNDS, convergence) rounds, count matches,
      exhausted/active leftovers, sum matched idx (regret), and audit
      blocking pairs over the band's own candidate set (candidates
      are band-contained, so the audit is band-local too).
    """
    import pandas as pd

    pdf = pdf.sort_values(["s", "ckey"])
    pos = pdf.groupby("s").cumcount() + 1
    cand = pdf[pos <= _GS_LIST]
    cand_idx = pos[pos <= _GS_LIST]

    lists: dict[int, list[tuple[int, str, int]]] = {}
    for s, r, rkey, i in zip(
        cand["s"], cand["r"], cand["rkey"], cand_idx
    ):
        lists.setdefault(int(s), []).append((int(r), rkey, int(i)))

    ptr = {s: 1 for s in lists}
    match: dict[int, tuple[int, str, int]] = {}
    for _ in range(_GS_ROUNDS):
        active = [
            s for s in lists if s not in match and ptr[s] <= _GS_LIST
        ]
        if not active:
            break
        # bids: receiver -> (rkey, proposer, idx), keep the min rkey
        bids: dict[int, tuple[str, int, int]] = {}
        for s, (r, rk, i) in match.items():
            b = bids.get(r)
            if b is None or rk < b[0]:
                bids[r] = (rk, s, i)
        for s in active:
            lst = lists[s]
            p = ptr[s]
            if p <= len(lst):
                r, rk, i = lst[p - 1]
                b = bids.get(r)
                if b is None or rk < b[0]:
                    bids[r] = (rk, s, i)
        match = {s: (r, rk, i) for r, (rk, s, i) in bids.items()}
        for s in active:
            ptr[s] += 1

    matched_recv = {r: rk for (r, rk, _i) in match.values()}
    n_blocking = 0
    for s, r, rkey, i in zip(
        cand["s"], cand["r"], cand["rkey"], cand_idx
    ):
        s, r, i = int(s), int(r), int(i)
        m = match.get(s)
        if m is not None and (i >= m[2] or m[0] == r):
            continue
        rm = matched_recv.get(r)
        if rm is None or rkey < rm:
            n_blocking += 1
    return pd.DataFrame(
        [
            {
                "n_proposers": len(lists),
                "n_receivers": int(cand["r"].nunique()),
                "n_candidate_pairs": int(len(cand)),
                "n_matched": len(match),
                "n_exhausted_unmatched": sum(
                    1
                    for s in lists
                    if s not in match and ptr[s] > _GS_LIST
                ),
                "n_active_end": sum(
                    1
                    for s in lists
                    if s not in match and ptr[s] <= _GS_LIST
                ),
                "sum_regret": sum(i for (_r, _rk, i) in match.values()),
                "n_blocking_pairs": n_blocking,
            }
        ]
    )


# ---------------------------------------------------------------------------
# q_ts_matrix_profile — motif/discord discovery over a bounded series
# ---------------------------------------------------------------------------

_MP_LEN = 600   # calendar-bounded series prefix (hours)
_MP_M = 24      # window length (one day)
_MP_EXCL = 12   # trivial-match exclusion zone


def _mp_kernel(batches):
    """Arrow-vectorized matrix-profile kernel (guide §4.2): the whole
    577×565 bounded window-distance problem for ONE zero-filled series,
    handed to numpy as a batch instead of a 160k-row BNLJ + interpreted
    zip_with fold per pair. Exact int64 arithmetic throughout — numpy
    int64 add/multiply wraps exactly like Spark's non-ANSI BIGINT, so
    every dist/key value is bit-identical to the relational form.

    Input: one row with `sv` = list<struct<idx:long, v:long>> (the
    sparse hourly sums, spine offsets). Output: the 10 result rows
    (5 motifs by (dist, i, j), 5 discords by (pdist DESC, i))."""
    import numpy as np
    import pyarrow as pa

    out_schema = pa.schema(
        [
            pa.field("kind", pa.string()),
            pa.field("rank", pa.int64()),
            pa.field("i", pa.int64()),
            pa.field("j", pa.int64()),
            pa.field("dist", pa.int64()),
        ]
    )
    for batch in batches:
        for sv in batch.column(0).to_pylist():
            s = np.zeros(_MP_LEN, dtype=np.int64)
            for e in sv:
                s[e["idx"]] = e["v"]
            n_win = _MP_LEN - _MP_M + 1
            w = np.lib.stride_tricks.sliding_window_view(s, _MP_M)
            # pairs (i, i+d) for d in [excl, n_win): one vectorized
            # diagonal per offset
            i_parts, j_parts, d_parts = [], [], []
            for d in range(_MP_EXCL, n_win):
                diff = w[: n_win - d] - w[d:]
                dist = np.einsum("ij,ij->i", diff, diff)
                idx = np.arange(n_win - d, dtype=np.int64)
                i_parts.append(idx)
                j_parts.append(idx + d)
                d_parts.append(dist)
            pi = np.concatenate(i_parts)
            pj = np.concatenate(j_parts)
            pd_ = np.concatenate(d_parts)
            # motif: top-5 by (dist, i, j)
            order = np.lexsort((pj, pi, pd_))[:5]
            rows = [
                ("motif", int(r + 1), int(pi[k]), int(pj[k]), int(pd_[k]))
                for r, k in enumerate(order)
            ]
            # profile over the symmetric pair set: per i, min dist and
            # min_by(j, dist*1024 + j) — j < 1024 so the packed key
            # orders exactly by (dist, j)
            si = np.concatenate([pi, pj])
            sj = np.concatenate([pj, pi])
            sd = np.concatenate([pd_, pd_])
            key = sd * 1024 + sj
            kmin = np.full(n_win, np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(kmin, si, key)
            pdist = kmin // 1024
            nn = kmin % 1024
            dorder = np.lexsort((np.arange(n_win), -pdist))[:5]
            rows += [
                ("discord", int(r + 1), int(k), int(nn[k]), int(pdist[k]))
                for r, k in enumerate(dorder)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in rows], pa.string()),
                    pa.array([r[1] for r in rows], pa.int64()),
                    pa.array([r[2] for r in rows], pa.int64()),
                    pa.array([r[3] for r in rows], pa.int64()),
                    pa.array([r[4] for r in rows], pa.int64()),
                ],
                schema=out_schema,
            )


@query(
    "q_ts_matrix_profile",
    oracle=f"""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
           // 3600 AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
h0 AS (SELECT min(x) AS h0 FROM hourly),
spine AS (
  SELECT i.i AS idx, coalesce(h.v, 0) AS v
  FROM (SELECT unnest(range({_MP_LEN})) AS i) i
  LEFT JOIN (SELECT x - h0.h0 AS idx, v FROM hourly, h0) h
    ON h.idx = i.i
),
series AS (SELECT list(v ORDER BY idx) AS s FROM spine),
win AS (
  SELECT CAST(i.i AS BIGINT) AS i, s[i.i + 1 : i.i + {_MP_M}] AS w
  FROM series, (SELECT unnest(range({_MP_LEN} - {_MP_M} + 1)) AS i) i
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(list_sum(list_transform(range({_MP_M}),
           k -> (a.w[k + 1] - b.w[k + 1]) * (a.w[k + 1] - b.w[k + 1])))
           AS BIGINT) AS dist
  FROM win a JOIN win b ON b.i >= a.i + {_MP_EXCL}
),
motif AS (
  SELECT 'motif' AS kind,
         CAST(row_number() OVER (ORDER BY dist, i, j) AS BIGINT) AS rank,
         i, j, dist
  FROM pairs ORDER BY dist, i, j LIMIT 5
),
sym AS (
  SELECT i, j, dist FROM pairs
  UNION ALL SELECT j, i, dist FROM pairs
),
profile AS (
  -- composite (dist, j) order packed into one scalar: j < 1024
  SELECT i, min(dist) AS pdist,
         min_by(j, dist * 1024 + j) AS nn
  FROM sym GROUP BY i
),
discord AS (
  SELECT 'discord' AS kind,
         CAST(row_number() OVER (ORDER BY pdist DESC, i) AS BIGINT) AS rank,
         i, nn AS j, pdist AS dist
  FROM profile ORDER BY pdist DESC, i LIMIT 5
)
SELECT * FROM motif UNION ALL SELECT * FROM discord
ORDER BY kind, rank
""",
)
def q_ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al.'s all-pairs nearest-neighbor window
    distance) over the first {_MP_LEN} hours of the revenue series:
    top-5 MOTIF pairs (closest non-overlapping day-length windows)
    and top-5 DISCORDS (windows whose nearest neighbor is farthest —
    the canonical anomaly definition that needs no threshold).
    Distances are exact integer sums of squared cent differences; the
    {_MP_EXCL}-hour exclusion zone suppresses trivial self-matches.

    Custom-operator shape, same lane as q_ts_dtw_distance: the series
    is CALENDAR-BOUNDED (a fixed {_MP_LEN}-hour prefix, zero-filled on
    a generated spine), so the all-pairs window problem is a bounded
    ~{(_MP_LEN - _MP_M + 1)}² candidate set by construction — the corpus
    only feeds the hourly pre-aggregation (map-side combine, one
    shuffle at hour grain). At 100 TB the heavy side stays the rollup;
    the profile itself is metadata-sized.

    r12 (guide §4.2 "heavy lifting in native code"): the r6–r11 form
    exploded the series into 577 window rows, self-joined them into a
    ~160k-row BroadcastNestedLoopJoin and folded every 24-element
    distance on the interpreted zip_with path, then re-aggregated the
    pair table twice (motif top-k, symmetric per-i profile) across two
    persisted intermediates. All of that work is metadata-sized after
    the hourly rollup, so it now rides ONE Arrow batch into `_mp_kernel`
    (numpy: vectorized per-diagonal squared distances, lexsort for both
    top-5 readouts) — the BNLJ, both persists, the window explode and
    three downstream agg/sort pipelines collapse into a single
    MapInArrow over the collected sparse series. Exact int64 semantics
    preserved (see the kernel docstring); oracle unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr(
            "CAST(unix_micros(date_trunc('hour', ts)) DIV 3600000000"
            " AS BIGINT)"
        ).alias("x")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("v")
    )
    h0 = hourly.agg(F.min("x").alias("h0"))
    sparse = (
        hourly.crossJoin(F.broadcast(h0))
        .select((F.col("x") - F.col("h0")).alias("idx"), "v")
        .filter(F.col("idx") < _MP_LEN)
    )
    series = sparse.agg(F.collect_list(F.struct("idx", "v")).alias("sv"))
    return series.mapInArrow(
        _mp_kernel, "kind string, rank long, i long, j long, dist long"
    ).orderBy("kind", "rank")


# ---------------------------------------------------------------------------
# q_time_croston — intermittent-demand forecasting
# ---------------------------------------------------------------------------

_CROSTON_TAPS = 10  # EWMA alpha=1/2 unrolled to power-of-two taps


@query(
    "q_time_croston",
    oracle=f"""
WITH daily AS (
  SELECT l_partkey,
         CAST(epoch(date_trunc('day', CAST(l_shipdate AS TIMESTAMP)))
              AS BIGINT) // 86400 AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
  FROM lineitem
  WHERE l_partkey % 499 = 7
  GROUP BY 1, 2
),
occ AS (
  SELECT l_partkey, day, z,
         day - lag(day) OVER (PARTITION BY l_partkey ORDER BY day) AS p,
         row_number() OVER (PARTITION BY l_partkey ORDER BY day DESC)
           AS rdesc
  FROM daily
),
zt AS (
  SELECT l_partkey,
         CAST(SUM(z * (CAST(1 AS BIGINT) << ({_CROSTON_TAPS} - 1 - (rdesc - 1))))
              AS BIGINT) AS zw,
         CAST(SUM(CAST(1 AS BIGINT) << ({_CROSTON_TAPS} - 1 - (rdesc - 1)))
              AS BIGINT) AS zden
  FROM occ WHERE rdesc <= {_CROSTON_TAPS}
  GROUP BY 1
),
pt AS (
  SELECT l_partkey,
         CAST(SUM(p * (CAST(1 AS BIGINT) << ({_CROSTON_TAPS} - 1 - (rdesc - 1))))
              AS BIGINT) AS pw,
         CAST(SUM(CAST(1 AS BIGINT) << ({_CROSTON_TAPS} - 1 - (rdesc - 1)))
              AS BIGINT) AS pden
  FROM occ WHERE rdesc <= {_CROSTON_TAPS} AND p IS NOT NULL
  GROUP BY 1
),
n AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_demands
  FROM daily GROUP BY 1
)
SELECT n.l_partkey, n.n_demands,
       CAST((zt.zw * 10000) // zt.zden AS BIGINT) AS z_hat_fx,
       CAST((pt.pw * 10000) // pt.pden AS BIGINT) AS p_hat_fx,
       CAST((zt.zw * pt.pden * 10000) // (zt.zden * pt.pw) AS BIGINT)
         AS demand_per_day_fx
FROM n
JOIN zt ON zt.l_partkey = n.l_partkey
JOIN pt ON pt.l_partkey = n.l_partkey
WHERE n.n_demands >= 2
ORDER BY n.l_partkey
""",
)
def q_time_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand — the forecasting
    family for series that are mostly zero (spare parts, long-tail
    SKUs), where plain EWMA/Holt collapses toward zero between
    demands. Demand sizes z and inter-demand intervals p are smoothed
    SEPARATELY and the rate forecast is their ratio z_hat/p_hat.
    The alpha=1/2 exponential smoother is unrolled into
    {_CROSTON_TAPS} power-of-two weighted taps over the most recent
    occurrences (the q_time_ewma_crossover recurrence-unrolling
    idiom), renormalized by the weights actually present, so every
    emitted value is one integer division: z_hat = Σz·2^t // Σ2^t,
    and the rate is the exact cross-multiplied ratio zw·pden·1e4 //
    (zden·pw).

    Scale shape: one (part, day) rollup with map-side combine and a
    pushed-down part filter; the lag/row_number windows ride ONE
    partkey hash exchange; everything after is per-part rollups at
    panel cardinality. No joins over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.filter(F.col("l_partkey") % 499 == 7)
        .groupBy(
            "l_partkey",
            F.expr(
                "CAST(unix_micros(date_trunc('day', l_shipdate))"
                " DIV 86400000000 AS BIGINT)"
            ).alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("z")
        )
    )
    wp = Window.partitionBy("l_partkey").orderBy("day")
    wd = Window.partitionBy("l_partkey").orderBy(F.col("day").desc())
    occ = scoped_persist(
        daily.select(
            "l_partkey",
            "day",
            "z",
            (F.col("day") - F.lag("day").over(wp)).alias("p"),
            F.row_number().over(wd).alias("rdesc"),
        )
    )
    wexpr = (
        f"CAST(1 AS BIGINT) << ({_CROSTON_TAPS} - 1 - (rdesc - 1))"
    )
    zt = (
        occ.filter(F.col("rdesc") <= _CROSTON_TAPS)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.expr(f"z * ({wexpr})")).cast("long").alias("zw"),
            F.sum(F.expr(wexpr)).cast("long").alias("zden"),
        )
    )
    pt = (
        occ.filter(
            (F.col("rdesc") <= _CROSTON_TAPS) & F.col("p").isNotNull()
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.expr(f"p * ({wexpr})")).cast("long").alias("pw"),
            F.sum(F.expr(wexpr)).cast("long").alias("pden"),
        )
    )
    n = daily.groupBy("l_partkey").agg(
        F.count("*").alias("n_demands")
    )
    return (
        n.filter(F.col("n_demands") >= 2)
        .join(zt, "l_partkey")
        .join(pt, "l_partkey")
        .select(
            "l_partkey",
            "n_demands",
            F.expr("CAST((zw * 10000) DIV zden AS BIGINT)").alias(
                "z_hat_fx"
            ),
            F.expr("CAST((pw * 10000) DIV pden AS BIGINT)").alias(
                "p_hat_fx"
            ),
            F.expr(
                "CAST((zw * pden * 10000) DIV (zden * pw) AS BIGINT)"
            ).alias("demand_per_day_fx"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q_multimodal_phash_dct — spectral (DCT) perceptual hash
# ---------------------------------------------------------------------------

# cos(pi * (2x + 1) * u / 16) scaled by 2^15, rounded half-up — the
# 8x8 DCT-II basis fixed-pointed ONCE at import; identical integer
# literals reach both engines (q_time_periodogram discipline).
_DCT_T = tuple(
    int(math.floor(math.cos(math.pi * (2 * x + 1) * u / 16) * 32768 + 0.5))
    for u in range(8)
    for x in range(8)
)
# the 15 low-frequency AC coefficients: (u, v) in [0,4)^2 minus DC
_DCT_UV = tuple(
    (u, v) for u in range(4) for v in range(4) if (u, v) != (0, 0)
)
# Per-(u,v) separable weights PRECOMBINED at import:
#   W_uv[i] = T[u*8 + i//8] * T[v*8 + i%8]
# so each coefficient is one zip_with dot product against a literal
# array evaluated once per row. The round-6 form indexed the 64-literal
# T array INSIDE the aggregate lambda (element_at twice per term);
# higher-order-function lambdas are interpreted and constant-folding
# does not reach inside them, so the 64-child CreateArray re-evaluated
# per element access — ~123k literal evals/row, 693 s at sf0.1
# (~139 ms/row). Same integers either way (integer multiplication is
# associative), so the oracle values are unchanged.
_DCT_W = tuple(
    tuple(_DCT_T[u * 8 + i // 8] * _DCT_T[v * 8 + i % 8] for i in range(64))
    for (u, v) in _DCT_UV
)
_PHW_SQL = tuple("[" + ", ".join(str(w) for w in ws) + "]" for ws in _DCT_W)
_PHW_SPARK = tuple(
    "array(" + ", ".join(str(w) for w in ws) + ")" for ws in _DCT_W
)


@query(
    "q_multimodal_phash_dct",
    oracle=f"""
WITH px AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS channel,
         list_transform(range(64),
           i -> CAST(ord(substr(rpad(text, 64, ' '), i + 1, 1))
                     AS BIGINT)) AS pix
  FROM documents
),
co AS (
  SELECT doc_id, channel,
         [{", ".join(
             f"CAST(list_sum(list_transform(range(64),"
             f" i -> pix[i + 1] * ({w})[i + 1])) AS BIGINT)"
             for w in _PHW_SQL
         )}] AS c
  FROM px
),
sig AS (
  SELECT doc_id, channel,
         CAST(list_sum(list_transform(range(15),
           b -> CASE WHEN c[b + 1] * 15 >= list_sum(c)
                     THEN CAST(1 AS BIGINT) << b ELSE 0 END))
           AS BIGINT) AS h
  FROM co
),
per_sig AS (
  SELECT channel, h, CAST(count(*) AS BIGINT) AS cnt
  FROM sig GROUP BY channel, h
),
top AS (
  SELECT channel, h AS top_sig, cnt AS top_sig_cnt FROM (
    SELECT channel, h, cnt,
           row_number() OVER (PARTITION BY channel
                              ORDER BY cnt DESC, h) AS rn
    FROM per_sig
  ) WHERE rn = 1
)
SELECT s.channel,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT s.h) AS BIGINT) AS n_distinct_sigs,
       CAST((SUM(bit_count(s.h)) * 10000) // count(*) AS BIGINT)
         AS mean_bits_set_fx,
       any_value(t.top_sig) AS top_sig,
       any_value(t.top_sig_cnt) AS top_sig_cnt
FROM sig s JOIN top t ON t.channel = s.channel
GROUP BY s.channel
ORDER BY s.channel
""",
)
def q_multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral perceptual hash (pHash family): each blob payload's
    first 64 bytes form an 8x8 intensity grid, a 2-D DCT-II projects
    it onto the 15 low-frequency AC basis functions (the integer
    cos(pi(2x+1)u/16) table is fixed-pointed once at import), and the
    mean-threshold rule (c_i * 15 >= sum(c), cross-multiplied — no
    division) packs a 15-bit spectral signature. The aHash query is
    the spatial-mean sibling; pHash survives brightness/contrast
    shifts because it thresholds SPECTRAL coefficients, which is why
    image-dedup stacks run both. Per channel: signature cardinality,
    mean bit weight, and the dominant signature.

    Scale shape: grid, DCT, and signature are all pure projection
    (nested higher-order functions over 64-element arrays — no
    explode, no rows created); then one (channel, sig) rollup and a
    channel rollup. Bounded integer magnitudes: 127 * 2^30 * 64 <
    2^53 per coefficient sum."""
    d = load_table(spark, sf_dir, "documents")
    px = d.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("channel"),
        F.expr(
            "transform(sequence(0, 63),"
            " i -> CAST(ascii(substring(rpad(text, 64, ' '), i + 1, 1))"
            " AS BIGINT))"
        ).alias("pix"),
    )
    co = px.select(
        "doc_id",
        "channel",
        F.expr(
            "array("
            + ", ".join(
                f"aggregate(zip_with(pix, {w}, (p, x) -> p * x),"
                f" CAST(0 AS BIGINT), (a, t) -> a + t)"
                for w in _PHW_SPARK
            )
            + ")"
        ).alias("c"),
    )
    # r11 NEGATIVE RESULT (measured): hoisting Σc out of the per-bit
    # lambda via the explode-of-1-element Generate barrier regressed
    # 2.2 s → 2.8 s — the saved refold is only 15×15 element steps per
    # doc, smaller than the Generate's per-row overhead. (The same
    # barrier PAYS in q_multimodal_ahash_buckets, where the refold is
    # 32×32 per doc and the signature lineage feeds a self-join.)
    sig = scoped_persist(
        co.select(
            "doc_id",
            "channel",
            F.expr(
                "CAST(aggregate(sequence(0, 14), CAST(0 AS BIGINT),"
                " (acc, b) -> acc + CASE WHEN element_at(c, b + 1) * 15"
                " >= aggregate(c, CAST(0 AS BIGINT), (a, v) -> a + v)"
                " THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT)"
                " END) AS BIGINT)"
            ).alias("h"),
        )
    )
    per_sig = sig.groupBy("channel", "h").agg(F.count("*").alias("cnt"))
    wch = Window.partitionBy("channel").orderBy(F.col("cnt").desc(), "h")
    top = (
        per_sig.withColumn("rn", F.row_number().over(wch))
        .filter(F.col("rn") == 1)
        .select(
            "channel",
            F.col("h").alias("top_sig"),
            F.col("cnt").alias("top_sig_cnt"),
        )
    )
    return (
        sig.groupBy("channel")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_distinct_sigs"),
            F.expr(
                "CAST((SUM(bit_count(h)) * 10000) DIV count(*) AS BIGINT)"
            ).alias("mean_bits_set_fx"),
        )
        .join(F.broadcast(top), "channel")
        .select(
            "channel",
            "n_docs",
            "n_distinct_sigs",
            "mean_bits_set_fx",
            "top_sig",
            "top_sig_cnt",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q_agg_ipf_raking — iterative proportional fitting (survey raking)
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 4
_IPF_FX = 10000  # weight fixed-point


def _ipf_oracle() -> str:
    """Unrolled IPF over the bounded (nation x segment) cell table:
    each round scales cells to the uniform nation target, then to the
    uniform segment target — all integer fixed-point."""
    ctes = [f"""
w0 AS (
  SELECT c_nationkey AS rk, c_mktsegment AS ck,
         CAST(count(*) * {_IPF_FX} AS BIGINT) AS w
  FROM customer GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS t,
         CAST(count(DISTINCT rk) AS BIGINT) AS nr,
         CAST(count(DISTINCT ck) AS BIGINT) AS nc
  FROM w0
)"""]
    cur = "w0"
    for i in range(_IPF_ROUNDS):
        ctes.append(f""",
rs{i} AS (
  SELECT rk, CAST(SUM(w) AS BIGINT) AS s FROM {cur} GROUP BY rk
),
wr{i} AS (
  SELECT w.rk, w.ck, CAST((w.w * (tot.t // tot.nr)) // rs{i}.s AS BIGINT) AS w
  FROM {cur} w JOIN rs{i} ON rs{i}.rk = w.rk, tot
),
cs{i} AS (
  SELECT ck, CAST(SUM(w) AS BIGINT) AS s FROM wr{i} GROUP BY ck
),
wc{i} AS (
  SELECT w.rk, w.ck, CAST((w.w * (tot.t // tot.nc)) // cs{i}.s AS BIGINT) AS w
  FROM wr{i} w JOIN cs{i} ON cs{i}.ck = w.ck, tot
)""")
        cur = f"wc{i}"
    return (
        "WITH " + "".join(ctes)
        + f"""
SELECT rk AS c_nationkey, ck AS c_mktsegment, w AS weight_fx
FROM {cur}
ORDER BY c_nationkey, c_mktsegment
"""
    )


@query("q_agg_ipf_raking", oracle=_ipf_oracle())
def q_agg_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking (iterative proportional fitting): reweight the
    (nation, segment) contingency cells so both marginals match
    uniform targets — the standard post-stratification calibration
    every survey/metrics pipeline applies before reporting, and the
    classic Sinkhorn/IPF fixpoint. {_IPF_ROUNDS} full row-then-column
    rounds over the BOUNDED cell table (|nations| x |segments|), all
    weights integer fixed-point ({_IPF_FX} = 1.0) with one `DIV` per
    scaling step, so both engines walk the identical lattice of
    truncations.

    Scale shape: the corpus appears ONCE (the initial cell rollup with
    map-side combine); every IPF round is joins/aggregates over the
    cell table — dimension-bounded, broadcastable, metadata-sized
    regardless of row count. The driver runs the fixed round loop
    (bounded-iteration precedent: GS matching, PageRank)."""
    cust = load_table(spark, sf_dir, "customer")
    w = scoped_persist(
        cust.groupBy(
            F.col("c_nationkey").alias("rk"),
            F.col("c_mktsegment").alias("ck"),
        )
        .agg((F.count("*") * _IPF_FX).cast("long").alias("w"))
    )
    tot = w.agg(
        F.sum("w").cast("long").alias("t"),
        F.countDistinct("rk").alias("nr"),
        F.countDistinct("ck").alias("nc"),
    )
    cur = w.crossJoin(F.broadcast(tot))
    for _ in range(_IPF_ROUNDS):
        rs = cur.groupBy(F.col("rk").alias("rs_rk")).agg(
            F.sum("w").cast("long").alias("rs_s")
        )
        cur = (
            cur.join(F.broadcast(rs), cur["rk"] == F.col("rs_rk"))
            .select(
                "rk",
                "ck",
                F.expr("CAST((w * (t DIV nr)) DIV rs_s AS BIGINT)").alias("w"),
                "t",
                "nr",
                "nc",
            )
        )
        cs = cur.groupBy(F.col("ck").alias("cs_ck")).agg(
            F.sum("w").cast("long").alias("cs_s")
        )
        cur = (
            cur.join(F.broadcast(cs), cur["ck"] == F.col("cs_ck"))
            .select(
                "rk",
                "ck",
                F.expr("CAST((w * (t DIV nc)) DIV cs_s AS BIGINT)").alias("w"),
                "t",
                "nr",
                "nc",
            )
        )
    return cur.select(
        F.col("rk").alias("c_nationkey"),
        F.col("ck").alias("c_mktsegment"),
        F.col("w").alias("weight_fx"),
    ).orderBy("c_nationkey", "c_mktsegment")
