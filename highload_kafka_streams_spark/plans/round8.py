"""Round-8 operators: data-selection, split hygiene, community quality,
tail risk, forecasting, and per-group relative filtering.

Six additions (the r7 verdict caps this round at ≤6 so the driver's
50-slot window drains the never-green backlog):

- q_select_dsir_importance — hashed-n-gram importance weighting for
  target-distribution data selection (DSIR-shaped).
- q_text_quality_per_lang_filter — per-language relative quality gate
  via an exact histogram quantile (no global sort, no per-doc window).
- q_graph_modularity — Newman modularity of the brand partition over
  the co-order part graph.
- q_sample_group_kfold — leakage-safe grouped k-fold assignment with a
  stratification-balance audit.
- q_agg_pot_tail — peaks-over-threshold tail statistics (mean excess +
  moment dispersion) above an exact per-group P95.
- q_time_theta_forecast — the Theta method (θ=2): OLS trend + α=½ SES
  on the theta line, combined one-step forecast.

Every query is exact-integer (fixed-point BIGINT) in both engines;
oracles reproduce each value bit-for-bit. Cross-engine idioms reused
from earlier rounds: md5-nibble buckets via conv/strpos, sign-safe
floor division ((s − ((s%k)+k)%k)/k), recursive-CTE twins for
sequential folds, two-step exact integer division for headroom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# ---------------------------------------------------------------------------
# q_select_dsir_importance — hashed-unigram importance weighting (DSIR-shaped)
# ---------------------------------------------------------------------------

_DSIR_B = 256       # hashed feature buckets
_DSIR_TOPK = 20     # selected candidate documents

# 2-nibble md5 bucket, identical in both engines
_DSIR_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(md5('dsir:' || tok), 1, 1)) - 1)"
    " * 16 +"
    " (strpos('0123456789abcdef', substr(md5('dsir:' || tok), 2, 1)) - 1))"
)


@query(
    "q_select_dsir_importance",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, lang,
         CAST({_DSIR_BUCKET_SQL} AS BIGINT) AS bucket
  FROM toks
),
vocab AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS cnt_r,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_t
  FROM tb GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(cnt_r) AS BIGINT) AS n_r,
         CAST(SUM(cnt_t) AS BIGINT) AS n_t
  FROM vocab
),
w AS (
  SELECT bucket,
         CAST(((cnt_t + 1) * 100000000 // (cnt_r + 1)) * 1000000
              // NULLIF((SELECT (n_t + {_DSIR_B}) * 100000000
                                // (n_r + {_DSIR_B}) FROM tot), 0)
              AS BIGINT) AS w_ppm
  FROM vocab
),
scored AS (
  SELECT tb.doc_id, tb.lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w.w_ppm) // count(*) AS BIGINT) AS avg_wppm
  FROM tb JOIN w ON w.bucket = tb.bucket
  WHERE tb.lang <> 'en'
  GROUP BY tb.doc_id, tb.lang
)
SELECT doc_id, lang, n_tokens, avg_wppm
FROM scored
ORDER BY avg_wppm DESC, doc_id
LIMIT {_DSIR_TOPK}
""",
)
def q_select_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, engine-shaped: score
    every NON-target document by how target-like its hashed unigram
    distribution is, and surface the top candidates — the standard
    recipe (Xie et al.'s DSIR) for growing a pretraining mix toward a
    target domain from a raw crawl. Features are md5-hashed into 256
    buckets; the target LM is the English sub-corpus, the raw LM the
    whole corpus; each bucket's weight is its smoothed target share
    over the global target share (ppm — >10⁶ means target-like), and a
    document scores the MEAN bucket weight of its tokens. The classic
    formulation sums log ratios; the linear-domain mean is the same
    ranking signal computed in exact integer arithmetic (documented
    deviation — no transcendentals to reproduce cross-engine).
    Smoothing is add-one on both counts; cnt_t ≤ cnt_r always, so the
    per-bucket ratio ≤ 10⁸ and every product stays far inside int64.

    Scale shape: the DSIR two-pass — (1) one token-grain rollup to the
    FIXED 256-cell vocab (map-side combine, cells independent of
    corpus size → the LM is mergeable across shards), (2) one scoring
    pass joining tokens to the 256-row broadcast weight table and
    rolling up to doc grain. Selection is TakeOrdered(k). No shuffle
    wider than the doc-grain aggregate; the corpus is scanned twice
    (stats pass + scoring pass), the honest shape at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 2),
            16,
            10,
        ).cast("long").alias("bucket"),
    )
    vocab = toks.groupBy("bucket").agg(
        F.count("*").cast("long").alias("cnt_r"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long").alias("cnt_t"),
    )
    tot = vocab.agg(
        F.sum("cnt_r").cast("long").alias("n_r"),
        F.sum("cnt_t").cast("long").alias("n_t"),
    )
    w = vocab.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"CAST(((cnt_t + 1) * 100000000 DIV (cnt_r + 1)) * 1000000"
            f" DIV NULLIF((n_t + {_DSIR_B}) * 100000000"
            f" DIV (n_r + {_DSIR_B}), 0) AS BIGINT)"
        ).alias("w_ppm"),
    )
    scored = (
        toks.filter(F.col("lang") != "en")
        .join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr("CAST(SUM(w_ppm) DIV count(*) AS BIGINT)")
            .alias("avg_wppm"),
        )
    )
    return (
        scored.select("doc_id", "lang", "n_tokens", "avg_wppm")
        .orderBy(F.col("avg_wppm").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


# ---------------------------------------------------------------------------
# q_text_quality_per_lang_filter — per-group relative quality gate
# ---------------------------------------------------------------------------


@query(
    "q_text_quality_per_lang_filter",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         CAST((n_chars * 10000)
              // len(string_split(text, ' ')) AS BIGINT) AS score_fx
  FROM documents
),
hist AS (
  SELECT lang, score_fx, CAST(count(*) AS BIGINT) AS cnt
  FROM scored GROUP BY lang, score_fx
),
cum AS (
  SELECT lang, score_fx, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY score_fx)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM hist
),
thr AS (
  SELECT lang, CAST(min(score_fx) AS BIGINT) AS threshold_fx
  FROM cum WHERE cum * 10 > n * 9 GROUP BY lang
)
SELECT s.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       any_value(t.threshold_fx) AS threshold_fx,
       CAST(SUM(CASE WHEN s.score_fx < t.threshold_fx THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN s.score_fx < t.threshold_fx THEN s.doc_id
                     ELSE 0 END) AS BIGINT) AS kept_checksum
FROM scored s JOIN thr t ON t.lang = s.lang
GROUP BY s.lang
ORDER BY s.lang
""",
)
def q_text_quality_per_lang_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language relative quality gate — keep each language's least
    verbose 90% by mean word length (n_chars·10⁴ / n_words, fixed-
    point): the curation pattern that avoids the classic monolingual-
    filter bias where one absolute threshold (tuned on English) guts
    low-resource languages. The cut is an EXACT per-group P90: the
    threshold is the smallest score whose cumulative count exceeds
    0.9·n, kept = strictly below it (ties at the threshold excluded —
    deterministic, no fractional tie-splitting).

    Scale shape: the bucketed two-pass exact-quantile recipe (the
    q_abc_pareto/q_customer_rfm de-weak shape) — one doc-grain
    projection, one map-side-combinable (lang, score) HISTOGRAM
    rollup, a window over histogram CELLS only (distinct scores per
    language — bounded by the score grid, not the corpus), and one
    broadcast threshold join back. No per-document window, no global
    sort; a coarser score grid is the documented escalation if the
    distinct-score count ever grows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST((n_chars * 10000) DIV size(split(text, ' ')) AS BIGINT)"
        ).alias("score_fx"),
    )
    hist = scored.groupBy("lang", "score_fx").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wl = Window.partitionBy("lang").orderBy("score_fx")
    wn = Window.partitionBy("lang")
    thr = (
        hist.select(
            "lang",
            "score_fx",
            F.sum("cnt").over(wl).cast("long").alias("cum"),
            F.sum("cnt").over(wn).cast("long").alias("n"),
        )
        .filter(F.col("cum") * 10 > F.col("n") * 9)
        .groupBy("lang")
        .agg(F.min("score_fx").cast("long").alias("threshold_fx"))
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.first("threshold_fx").alias("threshold_fx"),
            F.sum(
                F.when(F.col("score_fx") < F.col("threshold_fx"), 1)
                .otherwise(0)
            ).cast("long").alias("n_kept"),
            F.sum(
                F.when(
                    F.col("score_fx") < F.col("threshold_fx"),
                    F.col("doc_id"),
                ).otherwise(0)
            ).cast("long").alias("kept_checksum"),
        )
        .orderBy("lang")
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase part pairs ``(pa < pb)`` — parts adjacent
    when some order contains both. The per-order self-join is linear in
    lineitem (fan-out bounded by order size, ~7 items → ≤21 pairs) but
    still the dominant cost of both graph consumers at bench scale, so
    it is memoized via ``memo_parquet``: built once per (fixture,
    process), read by q_graph_modularity and
    q_graph_label_propagation. At 100 TB this is the materialized
    item-pair silver table every market-basket pipeline maintains."""
    from highload_kafka_streams_spark.io import memo_parquet

    def build(spark: SparkSession) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        po = li.select(
            F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")
        ).distinct()
        b = po.select(F.col("p").alias("pb"), F.col("o").alias("ob"))
        return (
            po.join(b, (F.col("ob") == F.col("o")) & (F.col("pb") > F.col("p")))
            .select(F.col("p").alias("pa"), "pb")
            .distinct()
        )

    return memo_parquet(
        spark, sf_dir, "copurchase_pairs", ("lineitem",), build, version="r9"
    )


# ---------------------------------------------------------------------------
# q_graph_modularity — Newman modularity of the brand partition
# ---------------------------------------------------------------------------


@query(
    "q_graph_modularity",
    oracle="""
WITH po AS (
  SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem
),
edges AS (
  SELECT a.p AS pa, b.p AS pb
  FROM po a JOIN po b ON b.o = a.o AND b.p > a.p
  GROUP BY a.p, b.p
),
lab AS (
  SELECT e.pa, e.pb, ba.p_brand AS ca, bb.p_brand AS cb
  FROM edges e
  JOIN part ba ON ba.p_partkey = e.pa
  JOIN part bb ON bb.p_partkey = e.pb
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
intra AS (
  SELECT ca AS brand, CAST(count(*) AS BIGINT) AS e_c
  FROM lab WHERE ca = cb GROUP BY ca
),
deg AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS d_c FROM (
    SELECT ca AS brand FROM lab
    UNION ALL
    SELECT cb AS brand FROM lab
  ) GROUP BY brand
)
SELECT deg.brand,
       coalesce(intra.e_c, 0) AS e_c,
       deg.d_c,
       CAST(coalesce(intra.e_c, 0) * 1000000 // (SELECT m FROM m)
            - ((deg.d_c * 1000) // (2 * (SELECT m FROM m)))
              * ((deg.d_c * 1000) // (2 * (SELECT m FROM m)))
            AS BIGINT) AS contrib_fx
FROM deg LEFT JOIN intra ON intra.brand = deg.brand
ORDER BY deg.brand
""",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition over the co-order part
    graph (parts are adjacent when some order contains both): per
    community c, Q_c = e_c/m − (d_c/2m)², where e_c = intra-community
    edges, d_c = degree mass, m = total edges — the standard
    community-quality readout every graph-clustering pipeline reports
    (Σ Q_c near 0 ⇒ brand labels don't explain co-purchase structure).
    Fixed-point: e_c/m exact in 10⁻⁶ units; d_c/2m quantized to 10⁻³
    BEFORE squaring (the two-step keeps d_c²·10⁶/4m² out of int64
    overflow — m is edge-count-sized, m² · 4·10⁶ is not) — identical
    quantization in both engines, documented approximation of the
    squared term to ±2·10⁻³ relative.

    Scale shape: candidate edges form per order (DISTINCT part-order
    pairs self-joined on the order key — fan-out bounded by order
    size, ~7 items → ≤21 pairs, linear in lineitem), brands attach by
    broadcast of the part dimension, and the edge stream collapses in
    ONE map-side-combinable rollup to (brand_a, brand_b) grain — ≤25²
    cells regardless of corpus size. m, intra counts, and degree mass
    all derive from that persisted 625-row frame, so the edge build
    executes exactly once however many readouts branch off it. No
    driver action, no corpus² join. r9: the co-purchase pair table is
    memoized (``_copurchase_pairs``) — built once per fixture and
    shared with q_graph_label_propagation, which runs the same
    self-join over lineitem."""
    part = load_table(spark, sf_dir, "part")
    edges = _copurchase_pairs(spark, sf_dir)
    brand = part.select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    cells = scoped_persist(
        edges.join(
            F.broadcast(brand.select(F.col("pk"), F.col("brand").alias("ca"))),
            F.col("pk") == F.col("pa"),
        )
        .drop("pk")
        .join(
            F.broadcast(brand.select(F.col("pk"), F.col("brand").alias("cb"))),
            F.col("pk") == F.col("pb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    m = cells.agg(F.sum("cnt").cast("long").alias("m"))
    intra = (
        cells.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("brand"))
        .agg(F.sum("cnt").cast("long").alias("e_c"))
    )
    deg = (
        cells.select(F.col("ca").alias("brand"), "cnt")
        .unionAll(cells.select(F.col("cb").alias("brand"), "cnt"))
        .groupBy("brand")
        .agg(F.sum("cnt").cast("long").alias("d_c"))
    )
    return (
        deg.join(F.broadcast(intra), "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            F.coalesce("e_c", F.lit(0)).cast("long").alias("e_c"),
            "d_c",
            F.expr(
                "CAST(coalesce(e_c, 0) * 1000000 DIV m"
                " - ((d_c * 1000) DIV (2 * m))"
                "   * ((d_c * 1000) DIV (2 * m)) AS BIGINT)"
            ).alias("contrib_fx"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# q_sample_group_kfold — leakage-safe grouped k-fold with balance audit
# ---------------------------------------------------------------------------

_KFOLD_K = 5

# 4 md5 nibbles mod k: 16 % 5 != 0 makes a single nibble 25%-vs-18.75%
# biased BY CONSTRUCTION; 65536 % 5 = 1 bounds the structural skew at
# 1/65536 so the audit measures the hash, not the modulus
_KFOLD_SQL = (
    "("
    + " + ".join(
        "(strpos('0123456789abcdef',"
        f" substr(md5('fold:' || CAST(user_id AS VARCHAR)), {j + 1}, 1)) - 1)"
        f" * {16 ** (3 - j)}"
        for j in range(4)
    )
    + f") % {_KFOLD_K}"
)


@query(
    "q_sample_group_kfold",
    oracle=f"""
WITH assigned AS (
  SELECT event_id, user_id, event_type,
         CAST({_KFOLD_SQL} AS BIGINT) AS fold
  FROM events
),
cells AS (
  SELECT fold, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM assigned GROUP BY fold, event_type
),
tot AS (
  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_type
  FROM cells GROUP BY event_type
)
SELECT c.fold, c.event_type, c.n_events, c.n_users,
       CAST((c.n_events * {_KFOLD_K} * 1000000) // t.n_type - 1000000
            AS BIGINT) AS dev_ppm
FROM cells c JOIN tot t ON t.event_type = c.event_type
ORDER BY c.fold, c.event_type
""",
)
def q_sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-fold assignment (k=5) keyed by USER — the leakage-safe
    split every evaluation pipeline needs: a fold is a pure function of
    the group key (first FOUR md5 nibbles mod k — 65536 % 5 = 1 bounds
    the structural modulus skew at 1/65536, where a single nibble mod 5
    is 25%-vs-18.75% biased by construction), so all of a user's events
    land in one fold BY CONSTRUCTION (no cross-fold contamination from
    the same entity), the assignment is reproducible under any
    partitioning, and adding data never reshuffles existing groups.
    The output audits stratification: per (fold, event_type) cell,
    event and user counts plus the ppm deviation of the cell's share
    from the uniform 1/k expectation — the health check that md5
    balance actually held.

    Scale shape: fold derives per ROW from user_id (zero-shuffle
    projection — no group table, no join), then one map-side-
    combinable rollup to k×|types| cells and a broadcast join against
    |types| totals. Nothing wider than the (fold, type) aggregate
    shuffles; the count-distinct is per-cell and exact."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        "event_id",
        "user_id",
        "event_type",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("fold:"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
            )
            % _KFOLD_K
        ).alias("fold"),
    )
    cells = assigned.groupBy("fold", "event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("n_type")
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "fold",
            "event_type",
            "n_events",
            "n_users",
            F.expr(
                f"CAST((n_events * {_KFOLD_K} * 1000000) DIV n_type"
                " - 1000000 AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("fold", "event_type")
    )


# ---------------------------------------------------------------------------
# q_agg_pot_tail — peaks-over-threshold tail statistics
# ---------------------------------------------------------------------------


@query(
    "q_agg_pot_tail",
    oracle="""
WITH fx AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x_fx
  FROM events
),
hist AS (
  SELECT event_type, x_fx, CAST(count(*) AS BIGINT) AS cnt
  FROM fx GROUP BY event_type, x_fx
),
cum AS (
  SELECT event_type, x_fx,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY x_fx)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM hist
),
thr AS (
  SELECT event_type, CAST(min(x_fx) AS BIGINT) AS u_fx,
         any_value(n) AS n
  FROM cum WHERE cum * 20 > n * 19 GROUP BY event_type
),
exceed AS (
  SELECT f.event_type,
         any_value(t.u_fx) AS u_fx,
         any_value(t.n) AS n,
         CAST(count(*) AS BIGINT) AS n_exceed,
         CAST(SUM(f.x_fx - t.u_fx) AS BIGINT) AS s1,
         CAST(SUM((f.x_fx - t.u_fx) * (f.x_fx - t.u_fx)) AS BIGINT) AS s2
  FROM fx f JOIN thr t ON t.event_type = f.event_type
  WHERE f.x_fx > t.u_fx
  GROUP BY f.event_type
)
SELECT event_type, n, u_fx, n_exceed,
       CAST(s1 // n_exceed AS BIGINT) AS mean_excess_fx,
       CAST((s2 // n_exceed) * 10000
            // NULLIF((s1 // n_exceed) * (s1 // n_exceed), 0)
            AS BIGINT) AS dispersion_fx
FROM exceed
ORDER BY event_type
""",
)
def q_agg_pot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail analysis per event type — the extreme-
    value companion to q_agg_gumbel_maxima's block maxima: exceedances
    above an EXACT per-type P95 (smallest value whose cumulative count
    passes 19/20 of the mass, from a value-grid histogram), their mean
    excess (the GPD scale readout), and the moment dispersion
    E[d²]/E[d]² in 10⁻⁴ units — ≈2·10⁴ signals an exponential tail
    (GPD ξ≈0), larger means heavier. Latency/risk pipelines use the
    mean-excess + dispersion pair to decide whether P99-style SLOs are
    even estimable from the data. Overflow posture (the r8 10× scale
    run caught the naive n·Σd²/(Σd)² form: its two-step-division
    remainder is bounded by (Σd)² ≈ 10¹⁶, so rem·10⁴ leaves int64):
    both moments PRE-DIVIDE by n_exceed — m₂ = Σd²/n and mₑ = Σd/n
    are bounded by the per-row value grid (≤ ~6·10⁶ and ~5·10⁴ fx),
    so m₂·10⁴ / mₑ² fits int64 at ANY corpus size; the truncation
    lattice is identical in both engines.

    Scale shape: one value-grid histogram rollup per type (map-side
    combine; cells bounded by the 100-step fx grid, not the corpus), a
    window over histogram CELLS only, then one broadcast threshold
    join and a second map-side-combinable exceedance rollup. Same
    two-pass recipe as the per-lang quality gate — no sort of raw
    values, no per-row window."""
    ev = load_table(spark, sf_dir, "events")
    fx = ev.select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("x_fx"),
    )
    hist = fx.groupBy("event_type", "x_fx").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wt = Window.partitionBy("event_type").orderBy("x_fx")
    wn = Window.partitionBy("event_type")
    thr = (
        hist.select(
            "event_type",
            "x_fx",
            F.sum("cnt").over(wt).cast("long").alias("cum"),
            F.sum("cnt").over(wn).cast("long").alias("n"),
        )
        .filter(F.col("cum") * 20 > F.col("n") * 19)
        .groupBy("event_type")
        .agg(
            F.min("x_fx").cast("long").alias("u_fx"),
            F.first("n").alias("n"),
        )
    )
    exceed = (
        fx.join(F.broadcast(thr), "event_type")
        .filter(F.col("x_fx") > F.col("u_fx"))
        .groupBy("event_type")
        .agg(
            F.first("u_fx").alias("u_fx"),
            F.first("n").alias("n"),
            F.count("*").cast("long").alias("n_exceed"),
            F.sum(F.col("x_fx") - F.col("u_fx")).cast("long").alias("s1"),
            F.sum(
                (F.col("x_fx") - F.col("u_fx"))
                * (F.col("x_fx") - F.col("u_fx"))
            ).cast("long").alias("s2"),
        )
    )
    return exceed.select(
        "event_type",
        "n",
        "u_fx",
        "n_exceed",
        F.expr("CAST(s1 DIV n_exceed AS BIGINT)").alias("mean_excess_fx"),
        F.expr(
            "CAST((s2 DIV n_exceed) * 10000"
            " DIV NULLIF((s1 DIV n_exceed) * (s1 DIV n_exceed), 0)"
            " AS BIGINT)"
        ).alias("dispersion_fx"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_time_theta_forecast — the Theta method (θ = 2, α = ½ SES + OLS drift)
# ---------------------------------------------------------------------------


@query(
    "q_time_theta_forecast",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_fp
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, v_fp,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
  FROM daily
),
ols AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST((count(*) * SUM(t * v_fp) - SUM(t) * SUM(v_fp))
              AS BIGINT) AS s_num,
         CAST((count(*) * SUM(t * t) - SUM(t) * SUM(t)) AS BIGINT) AS s_den,
         CAST(SUM(v_fp) AS BIGINT) AS sv,
         CAST(SUM(t) AS BIGINT) AS st
  FROM idx GROUP BY event_type
),
coef AS (
  SELECT event_type, n,
         CAST((s_num - ((s_num % NULLIF(s_den, 0)) + s_den) % NULLIF(s_den, 0))
              // NULLIF(s_den, 0) AS BIGINT) AS b
  FROM ols
),
coef2 AS (
  SELECT c.event_type, c.n, c.b,
         CAST((o.sv - c.b * o.st) // c.n AS BIGINT) AS a
  FROM coef c JOIN ols o ON o.event_type = c.event_type
),
theta AS (
  SELECT i.event_type, i.t,
         CAST(2 * i.v_fp - (c.a + c.b * i.t) AS BIGINT) AS y
  FROM idx i JOIN coef2 c ON c.event_type = i.event_type
),
rec AS (
  SELECT event_type, CAST(1 AS BIGINT) AS t, y AS s
  FROM theta WHERE t = 1
  UNION ALL
  SELECT r.event_type, r.t + 1,
         ((th.y + r.s) - (((th.y + r.s) % 2) + 2) % 2) // 2
  FROM rec r JOIN theta th
    ON th.event_type = r.event_type AND th.t = r.t + 1
)
SELECT c.event_type, c.n AS n_days, c.b AS slope_fx, rec.s AS ses_theta_fx,
       CAST(((rec.s + c.a + c.b * (c.n + 1))
             - (((rec.s + c.a + c.b * (c.n + 1)) % 2) + 2) % 2) // 2
            AS BIGINT) AS forecast_fx
FROM rec JOIN coef2 c ON c.event_type = rec.event_type AND rec.t = c.n
WHERE c.n >= 2
ORDER BY c.event_type
""",
)
def q_time_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theta method (Assimakopoulos & Nikolopoulos — the M3
    competition winner, still the to-beat classical baseline in M4/M5)
    per event type, θ=2 standard form: fit the OLS line a+bt to the
    daily series, build the theta line Yₜ = 2xₜ − (a+bt) (doubled
    curvature), smooth it with α=½ SES, and forecast one step as the
    average of the SES level and the trend line at t=n+1 — the classic
    half-and-half combination of the θ=0 and θ=2 lines. Everything is
    exact integer fixed-point (v in 10⁻⁴ units): OLS slope via the
    n·Σtv−ΣtΣv / n·Σt²−(Σt)² integer form with SIGN-SAFE floor
    division ((s−((s%k)+k)%k)/k — Spark DIV truncates, DuckDB //
    floors; this form floors on both), and the α=½ SES fold halves
    with the same floor form. The oracle re-derives the sequential
    fold as a recursive CTE (the q_time_holt_linear pattern), making
    agreement a genuine cross-engine check of the recurrence.

    Scale shape: one map-side-combinable daily rollup, one per-type
    5-row OLS aggregate, then a per-key fold over a CALENDAR-bounded
    array (30 elements here; thousands at any corpus size) inside
    F.aggregate — no per-row state, no driver loop."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("v_fp")
    )
    idx = daily.select(
        "event_type",
        "v_fp",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
    )
    ols = idx.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "CAST(count(*) * SUM(t * v_fp) - SUM(t) * SUM(v_fp) AS BIGINT)"
        ).alias("s_num"),
        F.expr(
            "CAST(count(*) * SUM(t * t) - SUM(t) * SUM(t) AS BIGINT)"
        ).alias("s_den"),
        F.sum("v_fp").cast("long").alias("sv"),
        F.sum("t").cast("long").alias("st"),
    )
    coef = ols.select(
        "event_type",
        "n",
        F.expr(
            "CAST((s_num - ((s_num % NULLIF(s_den, 0)) + s_den)"
            " % NULLIF(s_den, 0)) DIV NULLIF(s_den, 0) AS BIGINT)"
        ).alias("b"),
        "sv",
        "st",
    ).select(
        "event_type",
        "n",
        "b",
        F.expr("CAST((sv - b * st) DIV n AS BIGINT)").alias("a"),
    )
    series = (
        idx.join(F.broadcast(coef), "event_type")
        .select(
            "event_type",
            "n",
            "a",
            "b",
            "t",
            F.expr("CAST(2 * v_fp - (a + b * t) AS BIGINT)").alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n_days"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("t", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
        )
    )

    def _fdiv2(s):
        # sign-safe floor halving, identical on both engines
        return ((s - ((s % 2) + 2) % 2) / 2).cast("long")

    ses = F.aggregate(
        F.slice(F.col("ys"), 2, F.size(F.col("ys")) - 1),
        F.element_at(F.col("ys"), 1),
        lambda acc, y: _fdiv2(y + acc),
    )
    return (
        series.filter(F.size(F.col("ys")) >= 2)
        .select(
            "event_type",
            "n_days",
            F.col("b").alias("slope_fx"),
            ses.alias("ses_theta_fx"),
            _fdiv2(
                ses + F.col("a") + F.col("b") * (F.col("n_days") + 1)
            ).alias("forecast_fx"),
        )
        .orderBy("event_type")
    )
