"""Round-9 operators: mergeable quantile sketching and weighted
near-duplicate scoring — the two production families the r8 verdict
called out as the remaining breadth gaps (item 6).

Two additions (capped low so the driver's 50-slot window re-verifies
the twelve r9 pair-table rewrites AND rotates stale r1 evidence):

- q_agg_quantile_sketch_mergeable — deterministic hash-sample +
  fixed-point-histogram quantile sketch whose per-day partials merge by
  ADDITION into exactly the direct sketch; estimates P50/P90 next to
  the exact quantiles. The order-statistics answer to
  q_agg_hll_mergeable (register sketch) and q_agg_kmv_distinct
  (k-minimum values), completing the mergeable-sketch family.
- q_dedup_weighted_jaccard — inverse-df-weighted shingle Jaccard
  near-dup pairs: rare shingles dominate the score, so boilerplate
  overlap (high-df grams) stops inflating similarity. The last common
  production variant of the dedup family next to exact / Jaccard /
  containment / MinHash / SimHash.

Both are exact-integer (fixed-point BIGINT) in both engines; the
oracles reproduce every value bit-for-bit (md5 is the portable hash
family, the same upgrade q_dedup_minhash_md5 applies to LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# ---------------------------------------------------------------------------
# q_agg_quantile_sketch_mergeable — hash-sampled fixed-point quantile sketch
# ---------------------------------------------------------------------------

# sampling predicate: first md5 nibble of the UNIQUE row key < 2 → an
# exact 1/8 Bernoulli sample whose membership is a pure function of the
# row, which is what makes the sketch mergeable BY CONSTRUCTION: the
# union of per-shard (or per-day) samples IS the sample of the union —
# no coordination, no randomness to reconcile across engines
_QSK_SAMPLE_SQL = (  # STRING: the cast spelling both engines accept
    "substr(md5('qsk:' || CAST(event_id AS STRING)), 1, 1) IN ('0', '1')"
)


@query(
    "q_agg_quantile_sketch_mergeable",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v_fx,
         date_trunc('day', ts) AS day
  FROM events
  WHERE {_QSK_SAMPLE_SQL}
),
daily AS (  -- per-day partial sketches (the stored continuous-aggregate)
  SELECT event_type, day, v_fx, CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY event_type, day, v_fx
),
merged AS (  -- merge = ADD the partial histograms
  SELECT event_type, v_fx, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM daily GROUP BY event_type, v_fx
),
cum AS (
  SELECT event_type, v_fx, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_fx)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM merged
),
sk AS (
  SELECT event_type,
         CAST(min(n) AS BIGINT) AS n_sample,
         CAST(min(CASE WHEN 2 * cum >= n THEN v_fx END) AS BIGINT)
           AS p50_sketch_fx,
         CAST(min(CASE WHEN 10 * cum >= 9 * n THEN v_fx END) AS BIGINT)
           AS p90_sketch_fx
  FROM cum GROUP BY event_type
),
ex AS (
  SELECT event_type,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v_fx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, v_fx
),
excum AS (
  SELECT event_type, v_fx,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_fx)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM ex
),
exact AS (
  SELECT event_type,
         CAST(min(n) AS BIGINT) AS n_exact,
         CAST(min(CASE WHEN 2 * cum >= n THEN v_fx END) AS BIGINT)
           AS p50_exact_fx,
         CAST(min(CASE WHEN 10 * cum >= 9 * n THEN v_fx END) AS BIGINT)
           AS p90_exact_fx
  FROM excum GROUP BY event_type
)
SELECT exact.event_type, n_exact, n_sample,
       p50_sketch_fx, p50_exact_fx, p90_sketch_fx, p90_exact_fx
FROM exact JOIN sk ON sk.event_type = exact.event_type
ORDER BY exact.event_type
""",
)
def q_agg_quantile_sketch_mergeable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable quantile sketch per event type — the order-statistics
    member of the sketch family (next to q_agg_hll_mergeable's HLL
    registers and q_agg_kmv_distinct's k-minimum values): estimate P50
    and P90 of `value` from a sketch that re-aggregates across shards
    and days WITHOUT rescanning raw data, and report the exact
    quantiles beside it so the error is data, not prose.

    Sketch = deterministic hash sample (md5 nibble of the unique row
    key < 2 → exact 1/8 Bernoulli, membership a pure function of the
    row) + fixed-point value histogram. Mergeability is exact and
    two-layered, both layers demonstrated in-plan: the sample of a
    union is the union of samples (hash membership needs no
    coordination — the property KLL buys with random compaction, here
    bought with determinism at the cost of a bigger summary), and the
    per-day partial histograms merge by ADDITION into bit-exactly the
    direct histogram. Quantile rule: smallest v_fx whose cumulative
    count reaches ⌈q·n⌉ (integer comparisons only).

    Deterministic: md5 membership, BIGINT fixed-point values, integer
    rank thresholds — the oracle reproduces every column bit-for-bit,
    so this sketch is value-hash-checked end to end (the KMV upgrade),
    unlike tolerance-gated HLL.

    Scale shape: the sample filter applies at scan time (an md5
    projection — rows drop before any shuffle); the daily rollup is
    map-side combinable to (type, day, v_fx) grain; the merge
    is one more combinable rollup; quantile selection is one window
    over each type's histogram cells (value-domain-bounded, never
    row-grain). The exact side exists only as the audit; a production
    deployment stores the daily cells and answers any time range by
    re-summing them — the continuous-aggregate pattern. At 100 TB with
    an unbounded value domain the histogram would bucket v_fx (the
    documented deviation from a strict KLL, whose compaction bounds
    summary size at O(k log n))."""
    ev = load_table(spark, sf_dir, "events")
    v_fx = F.expr("CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)")
    s = ev.filter(F.expr(_QSK_SAMPLE_SQL)).select(
        "event_type",
        v_fx.alias("v_fx"),
        F.date_trunc("day", "ts").alias("day"),
    )
    daily = s.groupBy("event_type", "day", "v_fx").agg(
        F.count("*").cast("long").alias("cnt")
    )
    merged = daily.groupBy("event_type", "v_fx").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )

    def _quantiles(hist: DataFrame, n_name: str, p50: str, p90: str) -> DataFrame:
        wo = Window.partitionBy("event_type").orderBy("v_fx")
        wa = Window.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            "v_fx",
            F.sum("cnt").over(wo).cast("long").alias("cum"),
            F.sum("cnt").over(wa).cast("long").alias("n"),
        )
        return cum.groupBy("event_type").agg(
            F.min("n").cast("long").alias(n_name),
            F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v_fx")))
            .cast("long")
            .alias(p50),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("v_fx"))
            )
            .cast("long")
            .alias(p90),
        )

    sk = _quantiles(merged, "n_sample", "p50_sketch_fx", "p90_sketch_fx")
    ex_hist = ev.groupBy(
        "event_type", v_fx.alias("v_fx")
    ).agg(F.count("*").cast("long").alias("cnt"))
    exact = _quantiles(ex_hist, "n_exact", "p50_exact_fx", "p90_exact_fx")
    return (
        exact.join(F.broadcast(sk), "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_sample",
            "p50_sketch_fx",
            "p50_exact_fx",
            "p90_sketch_fx",
            "p90_exact_fx",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_dedup_weighted_jaccard — inverse-df-weighted shingle similarity
# ---------------------------------------------------------------------------

_WJ_THRESHOLD_PPM = 500_000  # weighted jaccard >= 0.5, exact ppm scale


@query(
    "q_dedup_weighted_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, lang,
         unnest(list_distinct(
           list_transform(
             range(len(string_split(text,' ')) - 2),
             i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')
           ))) AS g
  FROM documents
  WHERE len(string_split(text,' ')) >= 3
),
w AS (
  SELECT g, CAST(1000000 // count(*) AS BIGINT) AS w_fx
  FROM sh GROUP BY g
),
shw AS (
  SELECT sh.doc_id, sh.lang, sh.g, w.w_fx FROM sh JOIN w ON w.g = sh.g
),
sw AS (
  SELECT doc_id, CAST(SUM(w_fx) AS BIGINT) AS sw FROM shw GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.w_fx) AS BIGINT) AS inter_w
  FROM shw a JOIN shw b
    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter_w * 1000000 // NULLIF(sa.sw + sb.sw - inter_w, 0)
            AS BIGINT) AS wjac_ppm
FROM inter
JOIN sw sa ON sa.doc_id = doc_a
JOIN sw sb ON sb.doc_id = doc_b
WHERE inter_w * 1000000 // NULLIF(sa.sw + sb.sw - inter_w, 0)
      >= {_WJ_THRESHOLD_PPM}
ORDER BY doc_a, doc_b
""",
)
def q_dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-df-weighted shingle Jaccard near-dup pairs (≥ 0.5,
    language-blocked): J_w(A,B) = Σ_{g∈A∩B} w(g) ⁄ Σ_{g∈A∪B} w(g) with
    w(g) = ⌊10⁶ ⁄ df(g)⌋ — the production refinement of plain Jaccard
    where RARE shingles carry the signal and high-df boilerplate grams
    (navigation chrome, license headers) stop inflating similarity.
    The classic weighting is log-idf; the linear inverse-df keeps every
    weight an exact BIGINT with the same rare-heavy ordering
    (documented deviation — no transcendentals to reproduce
    cross-engine). Scores are exact ppm integers: one floor division
    per pair, both engines identical.

    Candidate generation is the family's inverted-index join (hashed
    grams, Σ df(g)² cost): any pair with J_w ≥ 0.5 shares at least one
    shingle, so the candidate set provably contains every qualifying
    pair and the exact score then filters — the same
    perfect-recall-then-verify structure as q_dedup_ngram_jaccard. At
    100 TB the sampling scale path is weighted MinHash (Ioffe's
    consistent weighted sampling) feeding the same verify step; the
    df table doubles as the ultra-frequent-gram droplist source (a
    df cap removes grams whose weight rounds to 0 from the index
    without changing any achievable score).

    Scale shape: df and per-doc weight totals are gram-grain rollups
    (map-side combinable); the weight join is gram-keyed; the pair
    aggregate keys on (doc_a, doc_b). Nothing is corpus² — cost is
    bounded by shingle frequency exactly like the unweighted query."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    tok_df = d.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("toks")
    )
    tk = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - 3, F.lit(0)))
    gram_h = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                *[F.element_at(tk, i + k + 1) for k in range(3)]
            ),
        )
    )
    # one exploded shingle table feeds df, per-doc totals, and both join
    # sides — persist it (gram-grain, hash-sized rows)
    sh = tok_df.select(
        "doc_id", "lang", F.explode(gram_h).alias("g")
    ).persist()
    w = sh.groupBy("g").agg(
        F.expr("CAST(1000000 DIV count(*) AS BIGINT)").alias("w_fx")
    )
    shw = scoped_persist(sh.join(w, "g").select("doc_id", "lang", "g", "w_fx"))
    shw.count()  # fill shw (3 consumers) before sh, its input, is freed
    sh.unpersist()
    sw = shw.groupBy("doc_id").agg(F.sum("w_fx").cast("long").alias("sw"))
    a, b = shw.alias("a"), shw.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum("a.w_fx").cast("long").alias("inter_w"))
    )
    sa = sw.select(F.col("doc_id").alias("da"), F.col("sw").alias("sw_a"))
    sb = sw.select(F.col("doc_id").alias("db"), F.col("sw").alias("sw_b"))
    # NULLIF guard: a union weight of 0 (every shared gram's weight
    # rounded to 0 at extreme df) must yield NULL, not a zero-division
    # — both engines then drop the pair at the threshold filter
    wjac = F.expr(
        "CAST(inter_w * 1000000 DIV NULLIF(sw_a + sw_b - inter_w, 0)"
        " AS BIGINT)"
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("da"))
        .join(sb, F.col("doc_b") == F.col("db"))
        .select("doc_a", "doc_b", wjac.alias("wjac_ppm"))
        .filter(F.col("wjac_ppm") >= _WJ_THRESHOLD_PPM)
        .orderBy("doc_a", "doc_b")
    )
