"""Embedding similarity search (SURVEY.md §2.11; PAPERS.md:7,9).

Three tiers over ``embeddings`` (``array<float>``, 64-dim):

- brute-force cosine top-k — the exact baseline: broadcast the query
  vector, one pass computing cosine per row, ``TakeOrderedAndProject``
  keeps a k-heap per task (no global sort). Oracle-checked bit-exact
  via fixed-point dot products.
- blocked near-dup pairs — all pairs with cosine ≥ τ *within a coarse
  bucket* (here the label column), the pattern for embedding-dedup at
  scale: the self-join is per-bucket, never corpus².
- LSH-bucketed ANN — random-hyperplane signatures (seeded, engine-
  deterministic) restrict candidates to the query's bucket; the 100 TB
  path where even per-bucket linear scan is too big. Rows-only check
  (hash-seeded hyperplanes are engine-specific); ``q_similarity_ann_md5``
  is the oracle-backed twin (md5-parity ±1 planes, fixed-point dots —
  the full signature→probe→re-rank pipeline is hash-checked vs DuckDB).

All arithmetic stays in JVM whole-stage codegen (higher-order array
functions) — no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

SCALE = 10**12  # fixed-point scale for dot products (|terms| ≤ 64 × ~1 → safe in int64)


def fdot(a: Column, b: Column) -> Column:
    """Order-independent fixed-point dot product of two float arrays."""
    prods = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * SCALE + 0.5).cast("long")
    )
    return (
        F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
        / float(SCALE)
    )


def cosine(a: Column, b: Column) -> Column:
    return fdot(a, b) / (F.sqrt(fdot(a, a)) * F.sqrt(fdot(b, b)))


_DOT_SQL = """
  SUM(CAST(FLOOR(CAST({a}[i.i] AS DOUBLE) * CAST({b}[i.i] AS DOUBLE) * 1e12 + 0.5)
           AS BIGINT)) / 1e12
"""


@query(
    "q_similarity_topk_cosine",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) i
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, cos_sim
FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a query vector (vec_id=0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    return cosine_top_k(emb.filter(F.col("vec_id") != 0), qvec, k=10)


def cosine_top_k(emb: DataFrame, query: DataFrame, k: int) -> DataFrame:
    """Exact brute-force cosine top-k of ``emb`` (vec_id, label,
    embedding) against a single-row ``query`` frame with column ``qe``.

    The query embedding broadcasts; scoring is one narrow pass;
    orderBy+limit plans TakeOrderedAndProject (per-task k-heap → driver
    merge of tasks×k rows) — scales linearly with the corpus."""
    return (
        emb.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


@query(
    "q_similarity_neardup_pairs",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         ({_DOT_SQL.format(a='a.embedding', b='b.embedding')})
         / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
            * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')})) AS cos_sim
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
       (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY a.vec_id, b.vec_id, a.label
)
SELECT vec_a, vec_b, label, cos_sim
FROM pairs
WHERE cos_sim >= 0.35
ORDER BY vec_a, vec_b
""",
)
def q_similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (cos ≥ 0.35; fixture embeddings
    are weakly clustered — real corpora would use ~0.95), blocked by the
    coarse cluster label — the embedding-dedup pattern: per-bucket
    self-join, never corpus².

    The within-bucket pair scoring runs as ``applyInPandas`` per label:
    one Arrow batch per bucket, the full pair matrix vectorized in numpy
    with EXACTLY the fdot fixed-point arithmetic (per-element floor →
    int64 sum → one double division), so results stay bit-identical to
    the JVM expression form while scoring ~100× faster than
    per-pair interpreted higher-order functions. Buckets are the
    partition unit — the batch shape a 1000-executor run would see.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def pair_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        arr = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        label = pdf["label"].iloc[0]
        # fixed-point pairwise dots: floor per element, exact int64 sums
        prods = arr[:, None, :] * arr[None, :, :]
        dots = np.floor(prods * SCALE + 0.5).astype(np.int64).sum(-1) / float(SCALE)
        norms = np.sqrt(np.diagonal(dots))
        cos = dots / (norms[:, None] * norms[None, :])
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] >= 0.35
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "label": label,
                "cos_sim": cos[ia, ib][keep],
            }
        )

    return (
        emb.groupBy("label")
        .applyInPandas(
            pair_scores,
            schema="vec_a long, vec_b long, label int, cos_sim double",
        )
        .orderBy("vec_a", "vec_b")
    )


N_BANDS = 4
BITS_PER_BAND = 4  # OR-amplified: candidate iff ANY band bucket matches
N_PLANES = N_BANDS * BITS_PER_BAND


def _hyperplane_weights(spark: SparkSession) -> DataFrame:
    """(plane, dim, w) hyperplane-component table: deterministic LCG →
    [-1, 1), 16×64 rows — broadcast-joined against exploded dimensions
    so signature computation is flat codegen, not per-row HOF lambdas."""
    rows = []
    x = 0x9E3779B9
    for plane in range(N_PLANES):
        for dim in range(64):
            x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
            rows.append((plane, dim, (x % 100000) / 50000.0 - 1.0))
    return spark.createDataFrame(rows, "plane int, dim int, w double")


@query("q_similarity_ann_lsh")  # engine-seeded hyperplanes → rows-only
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH, banded (4 bands × 4 sign
    bits, OR-amplification): a vector is a candidate iff it shares at
    least one band bucket with the query; exact cosine re-rank inside the
    candidate set. At 100 TB the (band, bucket) pair is the partition
    key — a query probes N_BANDS partitions instead of scanning the
    corpus, trading recall for a 2^bits-fold scan reduction per band.

    Signatures are computed FLAT: posexplode dims × broadcast hyperplane
    weights → per-(vec, plane) dot sums → sign bits folded into band
    buckets — every stage whole-stage codegen with map-side combine."""
    emb = load_table(spark, sf_dir, "embeddings")

    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    )
    planes = (
        dims.join(F.broadcast(_hyperplane_weights(spark)), "dim")
        .groupBy("vec_id", "plane")
        # fixed-point sum: a plain double sum is order-dependent and could
        # flip a sign bit near zero between runs/partitionings
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * F.col("w") * SCALE + 0.5
                ).cast("long")
            ).alias("dot")
        )
    )
    buckets = (
        planes.selectExpr(
            "vec_id",
            f"CAST(plane / {BITS_PER_BAND} AS INT) AS band",
            # column-valued shift counts need the SQL form of shiftleft
            f"shiftleft(CAST(CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS LONG),"
            f" CAST(plane % {BITS_PER_BAND} AS INT)) AS bit",
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("bit").alias("bucket"))
    )
    banded = emb.join(buckets, "vec_id").select(
        "vec_id", "label", "embedding", "band", "bucket"
    )
    # dual-consumed by the query row and the candidate scan — persist so
    # the signature pipeline runs once (cf. dedup.q_dedup_minhash_lsh)
    banded = scoped_persist(banded)

    qrow = F.broadcast(
        banded.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe"),
            F.col("band").alias("qband"),
            F.col("bucket").alias("qbucket"),
        )
    )
    cand = (
        banded.filter(F.col("vec_id") != 0)
        .join(
            qrow,
            (F.col("band") == F.col("qband"))
            & (F.col("bucket") == F.col("qbucket")),
        )
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query("q_similarity_ivf")  # rows-only: centroid float math is reduction-order-sensitive
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroid (computed with
    fixed-point per-dimension means so it IS deterministic); probe the
    nearest centroid's inverted list, exact re-rank inside. The scale path
    when buckets must be learned rather than hashed."""
    emb = load_table(spark, sf_dir, "embeddings")

    # per-label centroids: explode dims, fixed-point mean per (label, dim)
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(
            (
                F.sum(F.floor(F.col("x").cast("double") * SCALE + 0.5).cast("long"))
                / float(SCALE)
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            "label",
            F.transform(F.col("dc"), lambda s: s["c"]).alias("centroid"),
        )
    )

    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    # nearest centroid to the query
    nearest = (
        cent.crossJoin(qvec)
        .select(
            "label",
            cosine(
                F.transform(F.col("centroid"), lambda c: c.cast("float")),
                F.col("qe"),
            ).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), "label")
        .limit(1)
        .select(F.col("label").alias("probe_label"))
    )
    return (
        emb.join(F.broadcast(nearest), emb.label == F.col("probe_label"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(qvec)
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "q_embed_quantize",
    oracle="""
WITH m AS (
  SELECT vec_id, label, embedding,
         greatest(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS max_abs
  FROM embeddings
),
q AS (
  SELECT vec_id, label, max_abs,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) / max_abs * 127 + 0.5)
                     AS BIGINT)) AS qv,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12 + 0.5)
                     AS BIGINT)) AS sq
  FROM m
)
SELECT vec_id, label,
       round(max_abs, 6) AS max_abs,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       list_aggregate(qv, 'min') AS q_min,
       list_aggregate(qv, 'max') AS q_max,
       round(sqrt(CAST(list_aggregate(sq, 'sum') AS BIGINT) / 1e12), 6) AS l2_norm
FROM q
ORDER BY vec_id
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step before an ANN index ships to serving. Per vector:
    scale = 127/max|x|, elementwise FLOOR(x*scale + 0.5) (half-up in
    BOTH engines — bare round() is half-even in DuckDB and would drift),
    checked via integer aggregates of the quantized vector (order-free,
    engine-exact) plus the fixed-point L2 norm. Pure per-row higher-order
    projections — zero shuffle, embarrassingly parallel at any scale.
    The embedding array is materialized as a projection stage before the
    lambdas (HOF re-eval pathology, see llm/dedup.py::shingles)."""
    e = load_table(spark, sf_dir, "embeddings")
    staged = quantize_embeddings(e, "embedding")
    zero = F.lit(0).cast("long")
    return staged.select(
        "vec_id",
        "label",
        F.round("max_abs", 6).alias("max_abs"),
        F.aggregate("qv", zero, lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.round(
            F.sqrt(F.aggregate("sq", zero, lambda a, x: a + x) / 1e12), 6
        ).alias("l2_norm"),
    ).orderBy("vec_id")


def quantize_embeddings(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Public API: adds ``max_abs`` (double scale), ``qv`` (array<long>
    in [-127, 127]) and ``sq`` (fixed-point squares, Σ/1e12 = ‖x‖²) to
    any embedding frame — the int8 compression a served ANN index uses.
    The quantized VECTORS live here; the registered query projects only
    hashable aggregates of them (driver canon takes no array columns).
    Each stage materializes its array before lambdas touch it."""
    other = [c for c in df.columns if c != emb_col]
    if "emb" in other:  # staging alias must not shadow a real column
        raise ValueError(
            "quantize_embeddings: rename the existing 'emb' column first"
        )
    staged = df.select(*other, F.col(emb_col).alias("emb"))
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.greatest(
        F.array_max(F.transform("emb", lambda x: F.abs(xd(x)))), F.lit(1e-12)
    )
    staged = staged.select(*other, "emb", max_abs.alias("max_abs"))
    qv = F.transform(
        "emb",
        lambda x: F.floor(xd(x) / F.col("max_abs") * 127 + 0.5).cast("long"),
    )
    sq = F.transform(
        "emb", lambda x: F.floor(xd(x) * xd(x) * 1e12 + 0.5).cast("long")
    )
    return staged.select(
        *other, "max_abs", qv.alias("qv"), sq.alias("sq")
    )


def cosine_top_k_batch(
    emb: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one pass — the
    offline serving shape (score Q queries against the corpus at once).
    ``queries`` is (query_id, qe). The whole query set broadcasts (Q
    vectors are index-metadata-sized); the corpus is scanned ONCE for
    all queries; the per-query top-k is a window rank over rows
    partitioned by query_id — the single shuffle carries corpus×Q
    scored rows pruned to (ids, score). Rank ties break on vec_id so
    the result is deterministic."""
    from pyspark.sql.window import Window

    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "label", "cos_sim")
    )


@query(
    "q_similarity_topk_batch",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) i
  WHERE e.vec_id >= 3
  GROUP BY q.query_id, e.vec_id, e.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, cos_sim
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def q_similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-5 for three query vectors in one corpus pass (fixed-
    point dot product keeps the scores bit-identical across engines,
    same as q_similarity_topk_cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return cosine_top_k_batch(
        emb.filter(F.col("vec_id") >= 3), queries, k=5
    ).orderBy("query_id", "rank")


@query(
    "q_similarity_ann_md5",
    oracle=f"""
WITH fx AS (
  SELECT vec_id, i.i AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
           AS q
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
w AS (
  SELECT p.p AS plane, d.d AS dim,
         CASE WHEN ((strpos('0123456789abcdef',
                substr(md5(CAST(p.p AS VARCHAR) || ':'
                           || CAST(d.d AS VARCHAR)), 1, 1)) - 1) & 1) = 1
              THEN 1 ELSE -1 END AS w
  FROM (SELECT unnest(range(0, 16)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d
),
dots AS (
  SELECT fx.vec_id, w.plane, sum(fx.q * w.w) AS dot
  FROM fx JOIN w ON fx.dim - 1 = w.dim
  GROUP BY fx.vec_id, w.plane
),
buckets AS (
  SELECT vec_id, plane // 4 AS band,
         sum(CASE WHEN dot >= 0 THEN 1 << (plane % 4) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, plane // 4
),
qb AS (SELECT band, bucket FROM buckets WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b JOIN qb ON b.band = qb.band AND b.bucket = qb.bucket
  WHERE b.vec_id <> 0
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q,
       (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, cos_sim
FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def q_similarity_ann_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a PORTABLE hyperplane family — the driver-checkable twin
    of ``q_similarity_ann_lsh``. Hyperplane components are ±1 drawn from
    the parity of md5's first nibble (Charikar sign-random-projection
    with Rademacher planes), and every dot product is an int64 sum of
    fixed-point terms — order-independent, so BOTH the signature bits
    and the re-ranked cosines are bit-equal cross-engine and the oracle
    covers the full ANN pipeline (signatures -> banded buckets ->
    candidate probe -> exact re-rank), not just row counts.

    Same plan shape as the scale path: flat posexplode × broadcast
    weight join (whole-stage codegen, map-side combine), persisted
    narrow bucket table, OR-amplified probe of 4 buckets."""
    import hashlib

    emb = load_table(spark, sf_dir, "embeddings")
    wrows = [
        (
            p,
            d,
            1
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) & 1
            else -1,
        )
        for p in range(N_PLANES)
        for d in range(64)
    ]
    weights = spark.createDataFrame(wrows, "plane int, dim int, w long")

    dims = emb.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    fxq = F.floor(F.col("x").cast("double") * SCALE + 0.5).cast("long")
    dots = (
        dims.select("vec_id", "dim", fxq.alias("q"))
        .join(F.broadcast(weights), "dim")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("q") * F.col("w")).alias("dot"))
    )
    buckets = (
        dots.selectExpr(
            "vec_id",
            f"CAST(plane / {BITS_PER_BAND} AS INT) AS band",
            f"shiftleft(CAST(CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS LONG),"
            f" CAST(plane % {BITS_PER_BAND} AS INT)) AS bit",
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("bit").alias("bucket"))
    )
    buckets = scoped_persist(buckets)

    qb = F.broadcast(
        buckets.filter(F.col("vec_id") == 0).select(
            F.col("band").alias("qband"), F.col("bucket").alias("qbucket")
        )
    )
    cand = (
        buckets.filter(F.col("vec_id") != 0)
        .join(
            qb,
            (F.col("band") == F.col("qband"))
            & (F.col("bucket") == F.col("qbucket")),
        )
        .select("vec_id")
        .distinct()
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    return cosine_top_k(emb.join(cand, "vec_id"), qvec, k=10)


@query(
    "q_similarity_ivf_fx",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
dims AS (
  SELECT label, i.i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
           AS fx
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
cent AS (
  SELECT label, dim, SUM(fx) / 1e12 / COUNT(*) AS c
  FROM dims GROUP BY label, dim
),
cscore AS (
  SELECT cent.label,
         SUM(CAST(FLOOR(cent.c * CAST(q.qe[cent.dim + 1] AS DOUBLE) * 1e12
                        + 0.5) AS BIGINT)) / 1e12 AS dq,
         SUM(CAST(FLOOR(cent.c * cent.c * 1e12 + 0.5) AS BIGINT)) / 1e12
           AS dc
  FROM cent, q GROUP BY cent.label
),
qn AS (
  SELECT SUM(CAST(FLOOR(CAST(q.qe[i.i] AS DOUBLE) * CAST(q.qe[i.i] AS DOUBLE)
                        * 1e12 + 0.5) AS BIGINT)) / 1e12 AS dqq
  FROM q, (SELECT unnest(range(1, 65)) AS i) i
),
probe AS (
  SELECT label FROM cscore, qn
  ORDER BY dq / (sqrt(dc) * sqrt(qn.dqq)) DESC, label LIMIT 1
),
scored AS (
  SELECT e.vec_id, e.label,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e JOIN probe p ON e.label = p.label, q,
       (SELECT unnest(range(1, 65)) AS i) i
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, cos_sim
FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
)
def q_similarity_ivf_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, fully fixed-point — the driver-checkable twin of
    ``q_similarity_ivf``. Centroids stay DOUBLE arrays (no float
    round-trip): per-(label, dim) means are an exact int64 sum divided
    in a fixed order (/ SCALE, then / count), and every similarity —
    query→centroid, centroid norm, and the in-list re-rank — goes
    through the same fixed-point dot, so the learned quantizer, the
    probe decision, and the final ranking are all bit-equal
    cross-engine. Coarse quantizer trains in one narrow
    explode→groupBy pass; the probe is a broadcast 1-row join; the
    re-rank scans ONE inverted list."""
    emb = load_table(spark, sf_dir, "embeddings")

    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x").cast("double") * SCALE + 0.5).cast(
                        "long"
                    )
                )
                / float(SCALE)
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            "label",
            F.transform(F.col("dc"), lambda s: s["c"]).alias("centroid"),
        )
    )
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    nearest = (
        cent.crossJoin(qvec)
        .select(
            "label",
            cosine(F.col("centroid"), F.col("qe")).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), "label")
        .limit(1)
        .select(F.col("label").alias("probe_label"))
    )
    return (
        emb.join(F.broadcast(nearest), emb.label == F.col("probe_label"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(qvec)
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "q_embed_dim_stats",
    oracle="""
SELECT g.i - 1 AS dim,
       count(*) AS n,
       CAST(SUM(CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
                     AS BIGINT)) AS BIGINT) AS sum6,
       min(CAST(embedding[g.i] AS DOUBLE)) AS mn,
       max(CAST(embedding[g.i] AS DOUBLE)) AS mx
FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
GROUP BY 1
ORDER BY 1
""",
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    profiling pass behind normalization, quantizer calibration
    (`quantize_embeddings` needs per-dim ranges) and dead-dimension
    detection. `posexplode` pivots the vector column to (dim, value)
    rows; one map-side-combined aggregation on the 64 dim keys follows.

    Determinism: float→double widening is exact, min/max are
    order-free, and the mean-numerator is the fixed-point integer sum
    (`sum6`) rather than a double sum — division happens at the
    consumer, keeping the checked row bit-exact. At 100 TB the explode
    multiplies rows ×64 but carries only (int, double) pairs, and the
    64-key aggregate collapses per-task before the single tiny
    shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    pivoted = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    return (
        pivoted.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("sum6"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .orderBy("dim")
    )


MRL_DIMS = (8, 16, 32, 64)  # matryoshka truncation ladder (64 = full)


@query(
    "q_embed_mrl_overlap",
    oracle="""
WITH fx AS (
  SELECT vec_id, i.i AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS v
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
qv AS (SELECT dim, v FROM fx WHERE vec_id = 0),
dots AS (
  SELECT f.vec_id, d.d AS dims_kept, CAST(SUM(f.v * q.v) AS BIGINT) AS dot
  FROM fx f
  JOIN qv q ON f.dim = q.dim,
       (SELECT unnest([8, 16, 32, 64]) AS d) d
  WHERE f.vec_id <> 0 AND f.dim <= d.d
  GROUP BY f.vec_id, d.d
),
ranked AS (
  SELECT dims_kept, vec_id, dot,
         ROW_NUMBER() OVER (PARTITION BY dims_kept
                            ORDER BY dot DESC, vec_id) AS rk
  FROM dots
),
full10 AS (SELECT vec_id FROM ranked WHERE dims_kept = 64 AND rk <= 10)
SELECT dims_kept,
       CAST(count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM full10))
            AS BIGINT) AS n_overlap_with_full,
       CAST(min(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT) AS top1_id
FROM ranked
WHERE rk <= 10
GROUP BY dims_kept
ORDER BY dims_kept
""",
)
def q_embed_mrl_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation evaluation as a query: dot-product
    top-10 retrieval for one query vector at each kept-prefix width
    (8/16/32/64 dims), reporting how much of the full-width top-10
    each truncation preserves and which vector it ranks first — the
    ablation a pipeline runs before deciding how many dims to store
    and index at 100 TB (storage and ANN cost scale linearly in dims).

    Determinism: dot products are exact integer sums of 1e6-scaled
    fixed-point components (the similarity-module idiom), ranked with a
    (dot DESC, vec_id) total order, so the top-10 sets are identical
    cross-engine. Each width's top-10 is its own distributed limit-sort
    (TakeOrderedAndProject) over one corpus pass — never a 4-group
    window over the whole corpus — and the tiny (≤40-row) union is all
    that reaches the overlap join."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    base = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    def dot_d(d: int):
        fx = lambda c: F.floor(  # noqa: E731
            c.cast("double") * 1e6 + F.lit(0.5)
        ).cast("long")
        return F.aggregate(
            F.zip_with(
                F.slice("embedding", 1, d),
                F.slice("qe", 1, d),
                lambda x, y: fx(x) * fx(y),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    tops = None
    for d in MRL_DIMS:
        top = (
            base.select(
                F.lit(d).alias("dims_kept"),
                "vec_id",
                dot_d(d).alias("dot"),
            )
            .orderBy(F.col("dot").desc(), "vec_id")
            .limit(10)
        )
        tops = top if tops is None else tops.unionByName(top)
    from pyspark.sql import Window

    ranked = tops.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("dims_kept").orderBy(
                F.col("dot").desc(), "vec_id"
            )
        ),
    )
    full10 = ranked.filter(F.col("dims_kept") == 64).select(
        F.col("vec_id").alias("full_vec")
    )
    return (
        ranked.join(
            F.broadcast(full10),
            ranked.vec_id == full10.full_vec,
            "left",
        )
        .groupBy("dims_kept")
        .agg(
            F.count("full_vec").alias("n_overlap_with_full"),
            F.min(F.when(F.col("rk") == 1, F.col("vec_id"))).alias("top1_id"),
        )
        .orderBy("dims_kept")
    )


@query(
    "q_similarity_pq_fx",
    oracle="""
WITH dims AS (
  SELECT vec_id, label, i.i - 1 AS dim,
         CAST(embedding[i.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
sub AS (
  SELECT vec_id, label, dim // 8 AS s, dim % 8 AS j, x FROM dims
),
cent AS (
  SELECT s, label AS clabel, j,
         SUM(CAST(FLOOR(x * 1e12 + 0.5) AS BIGINT)) / 1e12 / COUNT(*) AS c
  FROM sub GROUP BY s, label, j
),
enc_d AS (
  SELECT v.vec_id, v.s, c.clabel,
         CAST(SUM(CAST(FLOOR((v.x - c.c) * (v.x - c.c) * 1e12 + 0.5)
                       AS BIGINT)) AS BIGINT) AS d2_fp
  FROM sub v JOIN cent c ON c.s = v.s AND c.j = v.j
  WHERE v.vec_id <> 0
  GROUP BY v.vec_id, v.s, c.clabel
),
code AS (
  SELECT vec_id, s, clabel AS code FROM (
    SELECT vec_id, s, clabel,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2_fp, clabel) AS rn
    FROM enc_d) t
  WHERE rn = 1
),
qd AS (
  SELECT c.s, c.clabel,
         CAST(SUM(CAST(FLOOR((q.x - c.c) * (q.x - c.c) * 1e12 + 0.5)
                       AS BIGINT)) AS BIGINT) AS qd2_fp
  FROM sub q JOIN cent c ON c.s = q.s AND c.j = q.j
  WHERE q.vec_id = 0
  GROUP BY c.s, c.clabel
),
adc AS (
  SELECT code.vec_id, CAST(SUM(qd.qd2_fp) AS BIGINT) AS adc_fp
  FROM code JOIN qd ON qd.s = code.s AND qd.clabel = code.code
  GROUP BY code.vec_id
)
SELECT a.vec_id, e.label, a.adc_fp, a.adc_fp / 1e12 AS adc_dist
FROM adc a JOIN embeddings e ON e.vec_id = a.vec_id
ORDER BY a.adc_fp, a.vec_id
LIMIT 10
""",
)
def q_similarity_pq_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the classic memory-compressed search:
    Jégou et al., 'Product Quantization for Nearest Neighbor Search'),
    fully fixed-point so the trained codebook, the encoding, and the
    ADC ranking are bit-equal cross-engine. The 64-dim space splits
    into M=8 subspaces of 8 dims; per-subspace codebooks use the label
    as the deterministic training assignment (the same trick as
    q_similarity_ivf_fx — k-means iterations would be seed-dependent),
    giving an 8×10 codebook. Each database vector encodes to 8 one-byte
    codes (argmin of exact fixed-point L2 per subspace, ties to the
    lowest code); the query never touches the vectors again — its 80
    subspace distances form the broadcast ADC lookup table and the
    approximate distance of a vector is an 8-term INTEGER sum of table
    entries. Top-10 ascending by that exact integer.

    Scale: encode is the one wide pass (N·M·K distance rows, the
    standard PQ encode cost) and happens ONCE at ingest in a real
    deployment; the search itself reads only the 8-byte codes —
    64 dims × 4 bytes compress 32× — plus a broadcast 80-entry table,
    which is the entire reason PQ exists at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim") / 8).cast("int").alias("s"),
        (F.col("dim") % 8).alias("j"),
        F.col("xf").cast("double").alias("x"),
    )
    sub = scoped_persist(sub)
    cent = (
        sub.groupBy(
            "s", F.col("label").alias("clabel"), "j"
        ).agg(
            (
                F.sum(F.floor(F.col("x") * SCALE + 0.5).cast("long"))
                / float(SCALE)
                / F.count("*")
            ).alias("c")
        )
    )
    cent = F.broadcast(cent)
    d2 = F.floor(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * SCALE + 0.5
    ).cast("long")
    enc_d = (
        sub.filter(F.col("vec_id") != 0)
        .join(cent, ["s", "j"])
        .groupBy("vec_id", "s", "clabel")
        .agg(F.sum(d2).alias("d2_fp"))
    )
    code = (
        enc_d.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2_fp", "clabel")).alias("m"))
        .select("vec_id", "s", F.col("m.clabel").alias("code"))
    )
    qd = (
        sub.filter(F.col("vec_id") == 0)
        .join(cent, ["s", "j"])
        .groupBy("s", "clabel")
        .agg(F.sum(d2).alias("qd2_fp"))
    )
    qd = qd.select(
        F.col("s").alias("qs"), F.col("clabel").alias("qlabel"), "qd2_fp"
    )
    adc = (
        code.join(
            F.broadcast(qd),
            (F.col("s") == F.col("qs")) & (F.col("code") == F.col("qlabel")),
        )
        .groupBy("vec_id")
        .agg(F.sum("qd2_fp").alias("adc_fp"))
    )
    return (
        adc.join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "vec_id",
            "label",
            "adc_fp",
            (F.col("adc_fp") / float(SCALE)).alias("adc_dist"),
        )
        .orderBy("adc_fp", "vec_id")
        .limit(10)
    )


_ANN_CAND_SQL = """
fx AS (
  SELECT vec_id, i.i AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
           AS q
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
w AS (
  SELECT p.p AS plane, d.d AS dim,
         CASE WHEN ((strpos('0123456789abcdef',
                substr(md5(CAST(p.p AS VARCHAR) || ':'
                           || CAST(d.d AS VARCHAR)), 1, 1)) - 1) & 1) = 1
              THEN 1 ELSE -1 END AS w
  FROM (SELECT unnest(range(0, 16)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d
),
dots AS (
  SELECT fx.vec_id, w.plane, sum(fx.q * w.w) AS dot
  FROM fx JOIN w ON fx.dim - 1 = w.dim
  GROUP BY fx.vec_id, w.plane
),
buckets AS (
  SELECT vec_id, plane // 4 AS band,
         sum(CASE WHEN dot >= 0 THEN 1 << (plane % 4) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, plane // 4
),
qb AS (SELECT band, bucket FROM buckets WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b JOIN qb ON b.band = qb.band AND b.bucket = qb.bucket
  WHERE b.vec_id <> 0
)
"""


@query(
    "q_eval_ann_recall",
    oracle=f"""
WITH {_ANN_CAND_SQL.strip()},
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
exact_scored AS (
  SELECT e.vec_id,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) i
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
),
exact_topk AS (
  SELECT vec_id FROM exact_scored ORDER BY cos_sim DESC, vec_id LIMIT 10
),
ann_scored AS (
  SELECT e.vec_id,
         ({_DOT_SQL.format(a='e.embedding', b='q.qe')})
         / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
            * sqrt({_DOT_SQL.format(a='q.qe', b='q.qe')})) AS cos_sim
  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q,
       (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY e.vec_id
),
ann_topk AS (
  SELECT vec_id FROM ann_scored ORDER BY cos_sim DESC, vec_id LIMIT 10
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_topk),
nh AS (SELECT CAST(count(*) AS BIGINT) AS n_found
       FROM exact_topk e JOIN ann_topk a ON e.vec_id = a.vec_id)
SELECT n_exact, n_found,
       n_exact - n_found AS n_missed,
       CASE WHEN n_exact > 0
            THEN CAST(n_found AS DOUBLE) / n_exact END AS recall
FROM ne, nh
""",
)
def q_eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-quality measurement AS A QUERY — the embedding-side sibling
    of ``q_eval_sketch_recall``: recall@10 of the md5-hyperplane LSH
    ANN (``q_similarity_ann_md5`` — signatures → banded buckets →
    candidate probe → exact re-rank) against the exact brute-force
    top-10 (``q_similarity_topk_cosine``). This is the number an
    engineer tunes bands×bits against before trusting bucketed ANN
    over a 100 TB embedding store; both sides are this module's
    already-verified pipelines, so the eval itself is oracle-checked
    end to end. One row: n_exact, n_found, n_missed, recall (NULL, not
    NaN, if the exact set were empty)."""
    exact = q_similarity_topk_cosine(spark, sf_dir).select("vec_id")
    found = q_similarity_ann_md5(spark, sf_dir).select("vec_id")
    hit = exact.join(found, "vec_id", "left_semi")
    ne = exact.agg(F.count("*").alias("n_exact"))
    nh = hit.agg(F.count("*").alias("n_found"))
    return ne.crossJoin(F.broadcast(nh)).select(
        "n_exact",
        "n_found",
        (F.col("n_exact") - F.col("n_found")).alias("n_missed"),
        F.when(
            F.col("n_exact") > 0,
            F.col("n_found").cast("double") / F.col("n_exact"),
        ).alias("recall"),
    )


@query(
    "q_embed_outlier_distance",
    oracle="""
WITH ex AS (
  SELECT vec_id, i.pos AS d,
         CAST(FLOOR(CAST(embedding[i.pos + 1] AS DOUBLE) * 10000 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, unnest(range(len(embedding))) AS i(pos)
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
cent AS (SELECT d, CAST(SUM(x) AS BIGINT) AS s FROM ex GROUP BY d),
dist AS (
  SELECT ex.vec_id,
         CAST(SUM((nrow.n * ex.x - cent.s) * (nrow.n * ex.x - cent.s))
              AS BIGINT) AS dist2n2
  FROM ex JOIN cent ON cent.d = ex.d, nrow
  GROUP BY ex.vec_id
)
SELECT dist.vec_id, e.label, dist.dist2n2, nrow.n
FROM dist JOIN embeddings e ON e.vec_id = dist.vec_id, nrow
ORDER BY dist.dist2n2 DESC, dist.vec_id
LIMIT 10
""",
)
def q_embed_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: the 10 vectors farthest from
    the corpus centroid — the cheap first-pass anomaly screen of an
    embedding pipeline (mislabeled shards, encoder glitches, and
    off-distribution inputs all surface here before any clustering).

    Exactness: coordinates fix-point once per (vector, dim); the
    centroid's division never happens — distances multiply through by
    n² (Σ_d (n·x_d − S_d)², exact BIGINTs), and the top-10 is a
    total order (distance DESC, vec_id).

    Scale shape: one posexplode pass shuffles (vec_id, dim) terms only
    for the DIMENSION-bounded centroid table (64 rows — broadcast
    back), the per-vector reduction shuffles on vec_id, and the top-10
    plans as TakeOrderedAndProject. No N×N anything — this is the
    linear-scan complement of the ANN family."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "xr")
    ).select(
        "vec_id",
        "d",
        F.floor(F.col("xr").cast("double") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    ex = scoped_persist(ex)
    nrow = emb.agg(F.count("*").alias("n"))
    cent = ex.groupBy("d").agg(F.sum("x").alias("s"))
    term = F.col("n") * F.col("x") - F.col("s")
    dist = (
        ex.join(F.broadcast(cent), "d")
        .crossJoin(F.broadcast(nrow))
        .groupBy("vec_id", "n")
        .agg(F.sum(term * term).cast("long").alias("dist2n2"))
    )
    lab = emb.select("vec_id", "label")
    return (
        dist.join(lab, "vec_id")
        .select("vec_id", "label", "dist2n2", "n")
        .orderBy(F.desc("dist2n2"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "q_eval_cluster_separation",
    oracle="""
WITH ex AS (
  SELECT vec_id, label, i.pos AS d,
         CAST(FLOOR(CAST(embedding[i.pos + 1] AS DOUBLE) * 1000 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, unnest(range(len(embedding))) AS i(pos)
),
cent AS (
  SELECT label, d, CAST(SUM(x) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY label, d
),
intra AS (
  SELECT ex.label,
         CAST(SUM((cent.n * ex.x - cent.s) * (cent.n * ex.x - cent.s))
              AS BIGINT) AS intra_num,
         CAST(max(cent.n) AS BIGINT) AS n_vecs
  FROM ex JOIN cent ON cent.label = ex.label AND cent.d = ex.d
  GROUP BY ex.label
),
inter AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(SUM((a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n))
              AS BIGINT) AS inter_num,
         CAST(max(a.n) AS BIGINT) AS na, CAST(max(b.n) AS BIGINT) AS nb
  FROM cent a JOIN cent b ON a.d = b.d AND a.label <> b.label
  GROUP BY a.label, b.label
),
nearest AS (
  SELECT la, lb, inter_num, na, nb,
         row_number() OVER (
           PARTITION BY la
           ORDER BY CAST(inter_num AS DOUBLE) / (na * na * nb * nb), lb
         ) AS rn
  FROM inter
)
SELECT i.label, i.n_vecs, i.intra_num,
       n.lb AS nearest_label, n.inter_num AS nearest_inter_num
FROM intra i JOIN nearest n ON n.la = i.label AND n.rn = 1
ORDER BY i.label
""",
)
def q_eval_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation audit of the labeled embedding space
    (Davies-Bouldin's ingredients): per label, the exact
    within-cluster scatter (Σ‖x − centroid‖² with the centroid
    division multiplied through: Σ_d (n·x − S_d)²) and the NEAREST
    other centroid with its exact squared-distance numerator
    (Σ_d (S_a·n_b − S_b·n_a)²) — tight intra + far inter = healthy
    clusters; a label whose nearest centroid is closer than its own
    scatter is a merge candidate. The nearest-centroid ranking divides
    exact integers once per candidate (correctly-rounded, identical
    cross-engine) with a label tie-break.

    Scale shape: one posexplode pass rolls up to the (label × dim)
    centroid table — bounded at |labels|·64 rows forever — the intra
    join broadcasts it back against the term stream, and the inter
    comparison is |labels|² over that tiny table. Coordinates
    fix-point at 1e3 so the inter cross-terms stay inside BIGINT."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d", "xr")
    ).select(
        "vec_id",
        "label",
        "d",
        F.floor(F.col("xr").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    ex = scoped_persist(ex)
    cent = ex.groupBy("label", "d").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    cent = scoped_persist(cent)
    term = F.col("n") * F.col("x") - F.col("s")
    intra = (
        ex.join(F.broadcast(cent), ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum(term * term).cast("long").alias("intra_num"),
            F.max("n").cast("long").alias("n_vecs"),
        )
    )
    a = cent.select(
        F.col("label").alias("la"), "d",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("lb"), "d",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    cross = F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    inter = a.join(b, "d").filter(F.col("la") != F.col("lb"))
    inter = inter.groupBy("la", "lb").agg(
        F.sum(cross * cross).cast("long").alias("inter_num"),
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("la").orderBy(
        F.col("inter_num").cast("double")
        / (F.col("na") * F.col("na") * F.col("nb") * F.col("nb")),
        F.col("lb"),
    )
    nearest = (
        inter.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("nearest_label"),
            F.col("inter_num").alias("nearest_inter_num"),
        )
    )
    return (
        intra.join(nearest, "label")
        .select(
            "label", "n_vecs", "intra_num", "nearest_label",
            "nearest_inter_num",
        )
        .orderBy("label")
    )


@query(
    "q_embed_kmeans_step",
    oracle=f"""
WITH dims AS (
  SELECT label, i.i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
           AS fx
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
),
cent AS (
  SELECT label, dim, SUM(fx) / 1e12 / COUNT(*) AS c
  FROM dims GROUP BY label, dim
),
scored AS (
  SELECT e.vec_id, e.label AS old_label, c.label AS cand,
         SUM(CAST(FLOOR(c.c * CAST(e.embedding[c.dim + 1] AS DOUBLE) * 1e12
                        + 0.5) AS BIGINT)) / 1e12 AS dq,
         SUM(CAST(FLOOR(c.c * c.c * 1e12 + 0.5) AS BIGINT)) / 1e12 AS dc
  FROM embeddings e, cent c
  GROUP BY e.vec_id, e.label, c.label
),
assigned AS (
  SELECT vec_id, old_label, cand AS new_label,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY dq / sqrt(dc) DESC, cand) AS rn
  FROM scored
)
SELECT old_label, new_label,
       CAST(count(*) AS BIGINT) AS n,
       (old_label <> new_label) AS moved
FROM assigned WHERE rn = 1
GROUP BY old_label, new_label
ORDER BY old_label, new_label
""",
)
def q_embed_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Lloyd iteration of k-means over the embedding
    corpus, seeded from the existing `label` partition: (1) centroids
    = per-label fixed-point means, (2) every vector re-assigns to the
    centroid maximizing cos(v, c) (ties → smallest label), (3) emit
    the (old → new) assignment-confusion matrix — the migration
    read-out a clustering pipeline watches for convergence.  The
    iterative-ML sibling of q_similarity_ivf_fx (which trains the same
    quantizer but probes one query); a full k-means is this step in a
    driver loop with convergence-by-count, exactly like the
    connected-components resolver.

    Determinism: centroids are exact int64 sums divided in a fixed
    order; every score is the fixed-point dot (house `fdot` family) —
    the vector's own norm is constant across candidates, so argmax of
    dq ⁄ √dc equals argmax cosine without ever touching it; the
    assignment resolves by (score DESC, label ASC) under row_number.

    Scale shape: centroid training is one narrow explode→groupBy over
    (label, dim) keys; assignment broadcasts the k×64 centroid table
    (k·dims-bounded — a model, not data) against one corpus scan; the
    per-vector argmax window partitions by vec_id.  No shuffle scales
    worse than the corpus itself."""
    from pyspark.sql.window import Window as _W

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x").cast("double") * SCALE + 0.5).cast(
                        "long"
                    )
                )
                / float(SCALE)
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            F.col("label").alias("cand"),
            F.transform(F.col("dc"), lambda s: s["c"]).alias("centroid"),
        )
    )
    scored = (
        emb.select("vec_id", F.col("label").alias("old_label"), "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "old_label",
            "cand",
            (
                fdot(F.col("embedding"), F.col("centroid"))
                / F.sqrt(fdot(F.col("centroid"), F.col("centroid")))
            ).alias("score"),
        )
    )
    w = _W.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("cand"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "old_label", F.col("cand").alias("new_label"))
    )
    return (
        assigned.groupBy("old_label", "new_label")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("moved", F.col("old_label") != F.col("new_label"))
        .orderBy("old_label", "new_label")
    )


# MMR selection: shortlist size, picks, and the relevance/diversity mix.
MMR_SHORTLIST = 12
MMR_PICKS = 4
MMR_LAMBDA = 0.7  # objective = 0.7·rel − 0.3·max-sim-to-selected


def _mmr_oracle() -> str:
    """Unrolled-CTE oracle for q_select_mmr_diverse: pick 1 = argmax
    relevance; picks 2..4 each re-rank the remaining shortlist by the
    MMR objective against the selected-so-far set (same unrolled-
    fixpoint discipline as q_graph_kcore_peel)."""
    dot = _DOT_SQL
    head = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
rel AS (
  SELECT e.vec_id, e.embedding,
         ({dot.format(a='e.embedding', b='q.qe')})
         / (sqrt({dot.format(a='e.embedding', b='e.embedding')})
            * sqrt({dot.format(a='q.qe', b='q.qe')})) AS rel
  FROM embeddings e, q, (SELECT unnest(range(1, 65)) AS i) i
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id, e.embedding
),
sl AS (
  SELECT vec_id, embedding, rel FROM rel
  ORDER BY rel DESC, vec_id LIMIT {MMR_SHORTLIST}
),
sims AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         ({dot.format(a='a.embedding', b='b.embedding')})
         / (sqrt({dot.format(a='a.embedding', b='a.embedding')})
            * sqrt({dot.format(a='b.embedding', b='b.embedding')})) AS sim
  FROM sl a, sl b, (SELECT unnest(range(1, 65)) AS i) i
  WHERE a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
s1 AS (
  SELECT vec_id FROM sl ORDER BY rel DESC, vec_id LIMIT 1
)"""
    steps = []
    prev_sel = "SELECT vec_id FROM s1"
    for k in range(2, MMR_PICKS + 1):
        steps.append(f"""
m{k} AS (
  SELECT sl.vec_id,
         {MMR_LAMBDA} * sl.rel
           - {round(1 - MMR_LAMBDA, 10)} * max(sims.sim) AS obj
  FROM sl
  JOIN sims ON sims.va = sl.vec_id
           AND sims.vb IN ({prev_sel})
  WHERE sl.vec_id NOT IN ({prev_sel})
  GROUP BY sl.vec_id, sl.rel
),
s{k} AS (
  SELECT vec_id FROM m{k} ORDER BY obj DESC, vec_id LIMIT 1
)""")
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, k + 1)
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {j} AS step, vec_id FROM s{j}"
        for j in range(1, MMR_PICKS + 1)
    )
    return (
        head
        + ","
        + ",".join(steps)
        + f"\nSELECT step, vec_id FROM ({unions})\nORDER BY step"
    )


def _mmr_shortlist(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Lazy (shortlist, pairwise-sims) plans for MMR — split out so the
    plan lock can assert the corpus pass is TakeOrderedAndProject (the
    public query collects both frames, so its returned plan is a local
    result). The shortlist comes back persisted; the caller's first
    collect materializes it and the caller unpersists."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    rel = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("embedding"), F.col("qe")).alias("rel"),
        )
    )
    sl = rel.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_SHORTLIST)
    sl = scoped_persist(sl)
    a = sl.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = sl.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va", "vb", cosine(F.col("ea"), F.col("eb")).alias("sim")
        )
    )
    return sl, sims


@query("q_select_mmr_diverse", oracle=_mmr_oracle())
def q_select_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection: greedily pick 4 vectors
    from the relevance top-12 shortlist, each maximizing
    0.7·rel(v) − 0.3·max_{s∈S} sim(v, s) — relevance traded against
    redundancy with what is already selected.  THE diversity-aware
    subset selector of training-data curation and RAG reranking
    (a top-k that refuses to return four copies of the same
    document); complements q_similarity_topk_cosine (pure relevance)
    and q_sample_mixture_balance (source-level diversity) at the
    instance level.

    Determinism: relevance and pairwise sims are house fixed-point
    dots; the objective is two correctly-rounded double products and
    one subtraction on identical inputs; every argmax rides
    (obj DESC, vec_id).  Greedy round count is FIXED (4), so the
    dataframe loop and the unrolled-CTE oracle compute the same
    selection (the kcore/LPA discipline).

    Scale shape: the corpus-sized work is ONE brute-force relevance
    pass (TakeOrderedAndProject top-12 — the same shape as topk_cosine,
    swappable for the IVF probe at 100 TB); everything after runs on
    the 12-row shortlist. r8 rewrite: the shortlist relevances and the
    132 pairwise sims are still computed by SPARK (identical
    fixed-point expressions — nothing numeric moved engines), but the
    greedy argmax rounds now run driver-side on those two collected
    k-bounded frames (the selection.py bounded-driver-state pattern;
    k=12 by construction) instead of as 3 chained TakeOrdered plans
    whose per-round stage overhead dwarfed the 12-row work. The
    objective arithmetic is the same IEEE doubles either way (Python
    floats ARE doubles; same multiply/subtract order)."""
    sl, sims = _mmr_shortlist(spark, sf_dir)
    lam = MMR_LAMBDA
    mu = round(1 - lam, 10)
    # two k-bounded collects (k = 12 shortlist rows, 132 sims); the
    # first materializes the sl cache, the second reads it
    short = sl.select("vec_id", "rel").collect()
    sim_rows = sims.collect()
    sl.unpersist()
    rel_map = {int(r.vec_id): float(r.rel) for r in short}
    if not rel_map:
        # degenerate fixture: no embeddings besides the query vector
        return spark.createDataFrame([], "step int, vec_id long")
    sim_map: dict[tuple[int, int], float] = {}
    for r in sim_rows:
        sim_map[(int(r.va), int(r.vb))] = float(r.sim)
    first = min(rel_map, key=lambda v: (-rel_map[v], v))
    selected = [first]
    out_rows = [(1, first)]
    for k in range(2, MMR_PICKS + 1):
        best = None
        for v in sorted(rel_map):
            if v in selected:
                continue
            ms = max(sim_map[(v, s)] for s in selected)
            obj = lam * rel_map[v] - mu * ms
            if best is None or obj > best[0]:
                best = (obj, v)
        if best is None:
            break
        selected.append(best[1])
        out_rows.append((k, best[1]))
    return spark.createDataFrame(
        out_rows, "step int, vec_id long"
    ).orderBy("step")
