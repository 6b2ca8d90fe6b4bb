"""Round-6 continuation (e) — sampling, sketch set-algebra, forecast
verification, and autocorrelation.

Same house rules as round6b/c/d (SURVEY.md §5): exact BIGINT
arithmetic or one deterministic fixed-point step per emitted value;
`DIV`/`//` integer division only (both engines truncate toward zero);
md5 as the portable hash family; deterministic total orders under
every LIMIT / row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# DuckDB twin of Spark's conv(hex, 16, 10) over a 12-char (48-bit)
# prefix — the q_agg_kmv_distinct recipe.
_DUCK_HEX12 = (
    "list_sum(list_transform(range(12), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, i + 1, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (11 - i)))))"
)

# ---------------------------------------------------------------------------
# q_sample_reservoir_bottomk — uniform bottom-k (reservoir) sampling
# ---------------------------------------------------------------------------

_RSV_GLOBAL_K = 50
_RSV_STRATUM_K = 10


@query(
    "q_sample_reservoir_bottomk",
    oracle=f"""
WITH h AS (
  SELECT o_orderkey, o_orderpriority,
         md5('rsv:' || CAST(o_orderkey AS VARCHAR)) AS hx
  FROM orders
),
gsamp AS (
  SELECT 'global' AS scope,
         CAST(row_number() OVER (ORDER BY hx) AS BIGINT) AS rank,
         o_orderkey
  FROM h ORDER BY hx LIMIT {_RSV_GLOBAL_K}
),
strat AS (
  SELECT o_orderpriority AS scope,
         CAST(rn AS BIGINT) AS rank, o_orderkey
  FROM (
    SELECT o_orderpriority, o_orderkey,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY hx) AS rn
    FROM h
  ) WHERE rn <= {_RSV_STRATUM_K}
)
SELECT * FROM gsamp UNION ALL SELECT * FROM strat
ORDER BY scope, rank
""",
)
def q_sample_reservoir_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform random sampling WITHOUT replacement as bottom-k order
    statistics over a content hash: every row draws its priority
    md5(key) and the sample is the k smallest priorities — exactly
    the distributed equivalent of reservoir sampling (same marginal:
    each row keeps probability k/n), but associative/mergeable, so it
    parallelizes where the classic sequential reservoir cannot. One
    global k=50 sample plus a per-priority k=10 stratified sample,
    both fully deterministic (the md5 family makes the 'random' draw
    replayable, partitioning-invariant, and oracle-checkable).

    Scale shape: the global sample plans TakeOrderedAndProject (each
    task keeps a k-heap, the driver merges k·tasks candidates — never
    a global sort); the stratified sample rides ONE row_number window
    hash-partitioned by the stratum. Rank is assigned AFTER the limit,
    over k-bounded rows. At 100 TB this is the standard 'sample 1k
    docs for human eval' primitive."""
    h = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.md5(
            F.concat(F.lit("rsv:"), F.col("o_orderkey").cast("string"))
        ).alias("hx"),
    )
    glob = (
        h.orderBy("hx")
        .limit(_RSV_GLOBAL_K)
        .select(
            F.lit("global").alias("scope"),
            F.row_number().over(Window.orderBy("hx")).cast("long").alias(
                "rank"
            ),
            "o_orderkey",
        )
    )
    ws = Window.partitionBy("o_orderpriority").orderBy("hx")
    strat = (
        h.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _RSV_STRATUM_K)
        .select(
            F.col("o_orderpriority").alias("scope"),
            F.col("rn").cast("long").alias("rank"),
            "o_orderkey",
        )
    )
    return glob.unionByName(strat).orderBy("scope", "rank")


# ---------------------------------------------------------------------------
# q_agg_kmv_setops — sketch set algebra (union / intersection / Jaccard)
# ---------------------------------------------------------------------------

_KMVS_K = 64
_KMVS_M = 1 << 48


@query(
    "q_agg_kmv_setops",
    oracle=f"""
WITH ha AS (
  SELECT DISTINCT md5('kmvs:' || CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
hb AS (
  SELECT DISTINCT md5('kmvs:' || CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders WHERE o_orderpriority = '2-HIGH'
),
sa AS (SELECT hx FROM ha ORDER BY hx LIMIT {_KMVS_K}),
sb AS (SELECT hx FROM hb ORDER BY hx LIMIT {_KMVS_K}),
su AS (
  SELECT hx, row_number() OVER (ORDER BY hx) AS rn
  FROM (SELECT hx FROM sa UNION SELECT hx FROM sb)
),
suk AS (SELECT hx FROM su WHERE rn <= {_KMVS_K}),
kth AS (
  SELECT {_DUCK_HEX12.format(h="substr(hx, 1, 12)")} AS hk
  FROM su WHERE rn = {_KMVS_K}
),
ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_a_exact,
         (SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_b_exact,
         (SELECT CAST(count(*) AS BIGINT)
          FROM ha JOIN hb ON hb.hx = ha.hx) AS n_inter_exact
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS c_both
  FROM suk
  WHERE hx IN (SELECT hx FROM sa) AND hx IN (SELECT hx FROM sb)
),
uest AS (
  SELECT CAST(({_KMVS_K} - 1) * CAST({_KMVS_M} AS BIGINT)
              // max(hk) AS BIGINT) AS kmv_union_est
  FROM kth
)
SELECT ex.n_a_exact, ex.n_b_exact,
       ex.n_a_exact + ex.n_b_exact - ex.n_inter_exact AS n_union_exact,
       ex.n_inter_exact,
       uest.kmv_union_est,
       CAST((c.c_both * uest.kmv_union_est) // {_KMVS_K} AS BIGINT)
         AS kmv_inter_est,
       CAST((c.c_both * 1000000) // {_KMVS_K} AS BIGINT)
         AS kmv_jaccard_ppm
FROM ex, c, uest
""",
)
def q_agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — the audience-overlap estimator: given
    two user sets (urgent-order vs high-order customers), estimate
    |A∪B|, |A∩B|, and Jaccard from two k=64 sketches alone, next to
    the exact answers. The union sketch is the k smallest of the
    merged sketches (KMV's defining mergeability); intersection uses
    the Θ-sketch rule — count members of the union's k-set present in
    BOTH input sketches, scale by est(|A∪B|)/k. q_agg_kmv_distinct
    pins the single-set estimator; this pins the set-operation
    algebra that makes sketches composable across partitions/days.

    Determinism: one md5 family hashes both sets (intersection only
    works if h(A) and h(B) agree on common members); hashes compare as
    fixed-width hex (lexicographic == numeric); the k-th minimum's
    48-bit prefix enters one integer division.

    Scale shape: per-set bottom-k plans TakeOrderedAndProject (k-heap
    per task, no global sort); everything after operates on ≤2k rows
    and broadcasts. The exact intersection is one distinct + equi-join
    on the hash — the only corpus-scale shuffle, and it exists only
    because the oracle reports exact error alongside the estimate."""
    ords = load_table(spark, sf_dir, "orders")

    def hset(prio: str) -> DataFrame:
        return (
            ords.filter(F.col("o_orderpriority") == prio)
            .select(
                F.md5(
                    F.concat(
                        F.lit("kmvs:"), F.col("o_custkey").cast("string")
                    )
                ).alias("hx")
            )
            .distinct()
        )

    ha = scoped_persist(hset("1-URGENT"))
    hb = scoped_persist(hset("2-HIGH"))
    sa = scoped_persist(ha.orderBy("hx").limit(_KMVS_K))
    sb = scoped_persist(hb.orderBy("hx").limit(_KMVS_K))
    su = (
        sa.unionByName(sb)
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hx")))
    )
    suk = su.filter(F.col("rn") <= _KMVS_K)
    kth = su.filter(F.col("rn") == _KMVS_K).select(
        F.conv(F.substring("hx", 1, 12), 16, 10).cast("long").alias("hk")
    )
    ex = (
        ha.agg(F.count("*").alias("n_a_exact"))
        .crossJoin(hb.agg(F.count("*").alias("n_b_exact")))
        .crossJoin(
            ha.join(hb, "hx").agg(F.count("*").alias("n_inter_exact"))
        )
    )
    c_both = (
        suk.join(sa.select(F.col("hx").alias("a_hx")),
                 F.col("hx") == F.col("a_hx"), "left_semi")
        .join(sb.select(F.col("hx").alias("b_hx")),
              F.col("hx") == F.col("b_hx"), "left_semi")
        .agg(F.count("*").alias("c_both"))
    )
    uest = kth.agg(
        F.expr(
            f"CAST(({_KMVS_K} - 1) * CAST({_KMVS_M} AS BIGINT)"
            f" DIV max(hk) AS BIGINT)"
        ).alias("kmv_union_est")
    )
    return (
        ex.crossJoin(F.broadcast(c_both))
        .crossJoin(F.broadcast(uest))
        .select(
            "n_a_exact",
            "n_b_exact",
            (
                F.col("n_a_exact") + F.col("n_b_exact")
                - F.col("n_inter_exact")
            ).alias("n_union_exact"),
            "n_inter_exact",
            "kmv_union_est",
            F.expr(
                f"CAST((c_both * kmv_union_est) DIV {_KMVS_K} AS BIGINT)"
            ).alias("kmv_inter_est"),
            F.expr(
                f"CAST((c_both * 1000000) DIV {_KMVS_K} AS BIGINT)"
            ).alias("kmv_jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q_eval_brier_decomposition — Murphy decomposition of the Brier score
# ---------------------------------------------------------------------------

_BRIER_BINS = 10
_PPM = 1_000_000


@query(
    "q_eval_brier_decomposition",
    oracle=f"""
WITH f AS (
  SELECT {_DUCK_HEX12.format(h="substr(md5('brier:' || CAST(o_orderkey AS VARCHAR)), 1, 12)")}
           % {_PPM + 1} AS p,
         CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS y
  FROM orders
),
b AS (
  SELECT p // {(_PPM // _BRIER_BINS) + 1} AS bin,
         CAST(count(*) AS BIGINT) AS n_k,
         CAST(SUM(p) AS BIGINT) AS sp_k,
         CAST(SUM(y) AS BIGINT) AS sy_k,
         CAST(SUM((p - y * {_PPM}) * (p - y * {_PPM})) AS BIGINT) AS sq_k
  FROM f GROUP BY 1
),
g AS (
  SELECT CAST(SUM(n_k) AS BIGINT) AS n,
         CAST((SUM(sy_k) * {_PPM}) // SUM(n_k) AS BIGINT) AS ybar_ppm,
         CAST(SUM(sq_k) // SUM(n_k) AS BIGINT) AS brier_fx
  FROM b
)
SELECT g.n AS n_forecasts,
       g.ybar_ppm,
       g.brier_fx,
       CAST(SUM(b.n_k * (b.sp_k // b.n_k - (b.sy_k * {_PPM}) // b.n_k)
                      * (b.sp_k // b.n_k - (b.sy_k * {_PPM}) // b.n_k))
            // g.n AS BIGINT) AS reliability_fx,
       CAST(SUM(b.n_k * ((b.sy_k * {_PPM}) // b.n_k - g.ybar_ppm)
                      * ((b.sy_k * {_PPM}) // b.n_k - g.ybar_ppm))
            // g.n AS BIGINT) AS resolution_fx,
       CAST((g.ybar_ppm * ({_PPM} - g.ybar_ppm)) // {_PPM} AS BIGINT)
         AS uncertainty_fx
FROM b, g
GROUP BY g.n, g.ybar_ppm, g.brier_fx
""",
)
def q_eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — the forecast-
    verification identity brier ≈ reliability − resolution +
    uncertainty that separates CALIBRATION error (reliability: do
    events happen at the forecast rate within each probability bin?)
    from DISCRIMINATION skill (resolution: do the bins' outcome rates
    spread away from the base rate?). The forecast is an md5-derived
    ppm probability (deterministic, oracle-replayable — the
    q_eval_calibration_bins stand-in); the outcome is order finality.
    All three components are fixed-point ppm² sums with one `DIV` per
    bin mean, so both engines walk identical truncation lattices
    (the identity holds only approximately under truncation — the
    oracle checks the exact truncated values, not the identity).

    Scale shape: ONE corpus pass into a {_BRIER_BINS}-row bin rollup
    (map-side combine: n, Σp, Σy, Σ(p−y)² are all algebraic); the
    global row derives from the bin table; the decomposition joins
    bin-grain to the 1-row global — metadata-sized. This is the
    canonical monitoring query for any scored-event stream."""
    f = load_table(spark, sf_dir, "orders").select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("brier:"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % (_PPM + 1)
        ).alias("p"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    b = scoped_persist(
        f.groupBy(
            # integer DIV, never float-divide-then-cast: a double
            # quotient at an exact bin boundary can land below the
            # integer and truncate into the wrong bin
            F.expr(f"p DIV {(_PPM // _BRIER_BINS) + 1}").alias("bin")
        )
        .agg(
            F.count("*").alias("n_k"),
            F.sum("p").cast("long").alias("sp_k"),
            F.sum("y").cast("long").alias("sy_k"),
            F.sum(
                (F.col("p") - F.col("y") * _PPM)
                * (F.col("p") - F.col("y") * _PPM)
            )
            .cast("long")
            .alias("sq_k"),
        )
    )
    g = b.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.expr(f"CAST((SUM(sy_k) * {_PPM}) DIV SUM(n_k) AS BIGINT)").alias(
            "ybar_ppm"
        ),
        F.expr("CAST(SUM(sq_k) DIV SUM(n_k) AS BIGINT)").alias("brier_fx"),
    )
    return (
        b.crossJoin(F.broadcast(g))
        .groupBy("n", "ybar_ppm", "brier_fx")
        .agg(
            F.expr(
                f"CAST(SUM(n_k * (sp_k DIV n_k - (sy_k * {_PPM}) DIV n_k)"
                f" * (sp_k DIV n_k - (sy_k * {_PPM}) DIV n_k)) DIV n"
                f" AS BIGINT)"
            ).alias("reliability_fx"),
            F.expr(
                f"CAST(SUM(n_k * ((sy_k * {_PPM}) DIV n_k - ybar_ppm)"
                f" * ((sy_k * {_PPM}) DIV n_k - ybar_ppm)) DIV n AS BIGINT)"
            ).alias("resolution_fx"),
            F.expr(
                f"CAST((ybar_ppm * ({_PPM} - ybar_ppm)) DIV {_PPM}"
                f" AS BIGINT)"
            ).alias("uncertainty_fx"),
        )
        .select(
            F.col("n").alias("n_forecasts"),
            "ybar_ppm",
            "brier_fx",
            "reliability_fx",
            "resolution_fx",
            "uncertainty_fx",
        )
    )


# ---------------------------------------------------------------------------
# q_time_acf_ladder — autocorrelation function at a ladder of lags
# ---------------------------------------------------------------------------

_ACF_LEN = 720  # calendar-bounded series prefix (hours)
_ACF_LAGS = (1, 2, 3, 6, 12, 24, 48)
_LAGS_SQL = "[" + ", ".join(str(l) for l in _ACF_LAGS) + "]"


@query(
    "q_time_acf_ladder",
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
  FROM (SELECT unnest(range({_ACF_LEN})) AS i) i
  LEFT JOIN (SELECT x - h0.h0 AS idx, v FROM hourly, h0) h
    ON h.idx = i.i
),
m AS (
  SELECT CAST(SUM(v) // {_ACF_LEN} AS BIGINT) AS mu FROM spine
),
d AS (SELECT idx, v - m.mu AS d FROM spine, m),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM d),
num AS (
  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(a.d * b.d) AS BIGINT) AS num
  FROM (SELECT unnest({_LAGS_SQL}) AS lag) l
  JOIN d a ON TRUE
  JOIN d b ON b.idx = a.idx + l.lag
  GROUP BY l.lag
)
SELECT CAST(num.lag AS BIGINT) AS lag, num.n_pairs,
       CAST((num.num * 1000000) // den.den AS BIGINT) AS acf_ppm
FROM num, den
ORDER BY lag
""",
)
def q_time_acf_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation ladder — ACF of the hourly revenue series at
    lags {_ACF_LAGS}, the first diagnostic every time-series pipeline
    runs (is there hourly persistence? a daily cycle? weekly?). The
    series is mean-centered with ONE truncated integer mean (values −
    Σv DIV n — both engines truncate identically), so numerator and
    denominator are exact BIGINT sums of cent products and each ACF
    value is one integer division; negative numerators are safe
    because Spark `DIV` and DuckDB `//`... both truncate toward zero
    (verified r6 hazard note). Complements q_time_cross_correlation
    (two series) and q_time_periodogram (frequency domain) with the
    lag domain.

    Scale shape: the corpus appears once, in the hour-grain rollup
    (map-side combine); the spine is calendar-bounded ({_ACF_LEN}
    rows), so lag alignment is a bounded self-join on idx+lag —
    metadata-sized regardless of event count."""
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
    spine = (
        spark.range(_ACF_LEN)
        .select(F.col("id").alias("idx"))
        .crossJoin(F.broadcast(h0))
        .join(hourly, F.col("x") == F.col("idx") + F.col("h0"), "left")
        .select("idx", F.coalesce("v", F.lit(0)).alias("v"))
    )
    mu = spine.agg(
        F.expr(f"CAST(SUM(v) DIV {_ACF_LEN} AS BIGINT)").alias("mu")
    )
    d = scoped_persist(
        spine.crossJoin(F.broadcast(mu))
        .select("idx", (F.col("v") - F.col("mu")).alias("d"))
    )
    den = d.agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("den"))
    b = d.select(F.col("idx").alias("b_idx"), F.col("d").alias("b_d"))
    num = (
        d.select(
            "idx",
            "d",
            F.explode(
                F.array(*[F.lit(l) for l in _ACF_LAGS])
            ).alias("lag"),
        )
        .join(b, F.col("b_idx") == F.col("idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("d") * F.col("b_d")).cast("long").alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.expr("CAST((num * 1000000) DIV den AS BIGINT)").alias(
                "acf_ppm"
            ),
        )
        .orderBy("lag")
    )
