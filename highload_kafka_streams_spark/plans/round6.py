"""Round-6 operator additions — estimation sketches, robust statistics,
apportionment, causal-inference and resampling shapes a production
analytics engine grows next once the core relational/streaming surface
(SURVEY.md §2, complete since r4) is covered.

House rules apply throughout (SURVEY.md §5 hazards): every double that
reaches the driver's value-hash is produced by one deterministic
fixed-point step over exact BIGINT arithmetic; hash families are md5 so
DuckDB reproduces sketches digest-for-digest; LIMIT/top-k always rides a
total deterministic order.  Scale posture is documented per query and
plan-locked in tests/test_scale_plans.py where the shape is
scale-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# KMV sketch: k minimum md5 values per group; estimate from the k-th
# minimum's position in the 48-bit prefix space (12 hex chars — exact in
# a signed BIGINT, unlike a 64-bit prefix).
KMV_K = 64
_KMV_M = 1 << 48  # h ranges over [0, 2^48)

# DuckDB twin of Spark's conv(hex, 16, 10): fold hex chars through
# strpos('0123456789abcdef', c) - 1 with power-of-16 shifts (the same
# per-digit recipe q_dedup_simhash_md5 uses, widened to 12 chars).
_DUCK_HEX12 = (
    "list_sum(list_transform(range(12), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, i + 1, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (11 - i)))))"
)


@query(
    "q_agg_kmv_distinct",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
),
h AS (
  SELECT event_type, md5('kmv:' || CAST(user_id AS VARCHAR)) AS hx
  FROM du
),
r AS (
  SELECT event_type, hx,
         row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM h
),
kth AS (
  SELECT event_type, n_exact,
         {_DUCK_HEX12.format(h="substr(hx, 1, 12)")} AS hk
  FROM r WHERE rn = {KMV_K}
),
base AS (
  SELECT r.event_type, min(r.n_exact) AS n_exact, min(kth.hk) AS hk
  FROM r LEFT JOIN kth ON r.event_type = kth.event_type
  GROUP BY r.event_type
)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN hk IS NULL THEN n_exact
                 ELSE ({KMV_K} - 1) * CAST({_KMV_M} AS BIGINT) // hk
            END AS BIGINT) AS kmv_estimate,
       CAST(CASE WHEN hk IS NULL THEN n_exact
                 ELSE ({KMV_K} - 1) * CAST({_KMV_M} AS BIGINT) // hk
            END AS BIGINT) - CAST(n_exact AS BIGINT) AS err
FROM base
ORDER BY event_type
""",
)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type,
    k = 64, drawn from the portable md5 family so the SKETCH — the k
    minimum hashes and the k-th-minimum position estimate
    (k−1)·M ⁄ h_k over the 48-bit prefix space — is value-hash-checked
    end to end, the same oracle upgrade q_dedup_minhash_md5 applies to
    LSH.  Complements q_agg_hll_mergeable (register-based) with the
    order-statistics estimator family; groups with fewer than k
    distinct members fall back to the exact count (the textbook KMV
    rule: the sketch IS the set until it saturates).

    Determinism: hashes are md5 hex compared lexicographically
    (fixed-width hex order == numeric order), h_k is the exact BIGINT
    value of the first 12 hex chars (48 bits — a 16-char prefix could
    exceed the signed-64 range), and the estimate is one integer
    division.

    Scale shape: distinct-per-group then a per-group top-k by hash —
    the row_number window partitions by event_type, so no global sort;
    at 100 TB the same sketch is mergeable by unioning per-partition
    k-mins and re-taking the k smallest (associative, like any order
    sketch), which is exactly how the map-side combine of the distinct
    already behaves."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.select(
        "event_type",
        F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "hx"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("hx")
    wc = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hx",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_exact"),
    )
    kth = r.filter(F.col("rn") == KMV_K).select(
        "event_type",
        F.conv(F.substring("hx", 1, 12), 16, 10).cast("long").alias("hk"),
    )
    base = (
        r.groupBy("event_type")
        .agg(F.min("n_exact").cast("long").alias("n_exact"))
        .join(F.broadcast(kth), "event_type", "left")
    )
    est = F.when(F.col("hk").isNull(), F.col("n_exact")).otherwise(
        F.expr(f"({KMV_K} - 1) * CAST({_KMV_M} AS BIGINT) DIV hk")
    )
    return base.select(
        "event_type",
        "n_exact",
        est.cast("long").alias("kmv_estimate"),
        (est.cast("long") - F.col("n_exact")).alias("err"),
    ).orderBy("event_type")


@query(
    "q_agg_winsorized_mean",
    oracle="""
WITH c AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
r AS (
  SELECT l_returnflag, cents,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM c
),
cut AS (
  SELECT l_returnflag, min(n) AS n,
         min(CASE WHEN rn = (n + 9) // 10 THEN cents END) AS lo,
         min(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS hi
  FROM r GROUP BY l_returnflag
)
SELECT r.l_returnflag,
       CAST(cut.n AS BIGINT) AS n,
       CAST(cut.lo AS BIGINT) AS lo_cents,
       CAST(cut.hi AS BIGINT) AS hi_cents,
       CAST(SUM(CASE WHEN r.cents < cut.lo THEN cut.lo
                     WHEN r.cents > cut.hi THEN cut.hi
                     ELSE r.cents END) AS BIGINT) AS win_sum_cents,
       CAST(SUM(CASE WHEN r.cents < cut.lo THEN cut.lo
                     WHEN r.cents > cut.hi THEN cut.hi
                     ELSE r.cents END) * 10000 // cut.n AS BIGINT)
         AS win_mean_fx
FROM r JOIN cut ON r.l_returnflag = cut.l_returnflag
GROUP BY r.l_returnflag, cut.n, cut.lo, cut.hi
ORDER BY r.l_returnflag
""",
)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of extended price per return flag: clamp to the
    exact [P10, P90] order statistics, then average — the robust
    location estimator that keeps outliers' ROWS (unlike a trimmed
    mean) but caps their LEVERAGE; the robust-statistics sibling of
    q_agg_mad_robust (spread) and q_agg_theil_sen (slope).

    Exact order statistics, not approximations: the value at
    row_number ceil(0.1·n) of the per-group sort is deterministic even
    under ties (the sorted multiset is unique by value), so lo/hi and
    the clamped integer-cents sum hash identically cross-engine; the
    reported mean is the one integer division (sum·10⁴ div n).

    Scale shape: one per-group sort window (partitioned — no global
    sort) computes both cut ranks in a single pass, the 5-row cut
    table broadcasts back, and the clamped re-aggregation is
    map-side-combinable.  For groups too large to sort, the repo's
    iterative-selection recipe (operators/selection.py) finds the same
    two ranks with histogram passes — the cut JOIN shape here is
    unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wc = Window.partitionBy("l_returnflag")
    r = c.select(
        "l_returnflag",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    cut = r.groupBy("l_returnflag").agg(
        F.min("n").alias("n"),
        F.min(
            F.when(F.col("rn") == F.expr("(n + 9) DIV 10"), F.col("cents"))
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("cents")
            )
        ).alias("hi"),
    )
    clamped = (
        c.join(F.broadcast(cut), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "lo",
            "hi",
            F.when(F.col("cents") < F.col("lo"), F.col("lo"))
            .when(F.col("cents") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("cents"))
            .alias("wc"),
        )
    )
    return (
        clamped.groupBy("l_returnflag", "n", "lo", "hi")
        .agg(F.sum("wc").cast("long").alias("win_sum_cents"))
        .select(
            "l_returnflag",
            F.col("n").cast("long").alias("n"),
            F.col("lo").cast("long").alias("lo_cents"),
            F.col("hi").cast("long").alias("hi_cents"),
            "win_sum_cents",
            F.expr("CAST(win_sum_cents * 10000 DIV n AS BIGINT)").alias(
                "win_mean_fx"
            ),
        )
        .orderBy("l_returnflag")
    )


# D'Hondt: number of shard-build slots apportioned across sources.
DHONDT_SEATS = 40


@query(
    "q_alloc_dhondt",
    oracle=f"""
WITH v AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs
  FROM documents GROUP BY source
),
q AS (
  SELECT source, docs, d,
         CAST(docs AS DOUBLE) / d AS quot
  FROM v, unnest(generate_series(1, {DHONDT_SEATS})) AS dd(d)
),
r AS (
  SELECT source, docs, d,
         row_number() OVER (ORDER BY quot DESC, source, d) AS rn
  FROM q
)
SELECT source, min(docs) AS docs,
       CAST(COALESCE(SUM(CASE WHEN rn <= {DHONDT_SEATS} THEN 1 END), 0)
            AS BIGINT) AS seats
FROM r
GROUP BY source
ORDER BY source
""",
)
def q_alloc_dhondt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt (highest-averages) apportionment of a fixed number of
    shard-build slots across document sources, proportional to doc
    count: explode divisors 1..S per source, rank the quotients
    v ⁄ d, a source wins one seat per quotient in the global top S.
    Completes the allocation trio — largest-remainder
    (q_alloc_largest_remainder) is quota-based, water-filling
    (q_alloc_water_filling) is max-min fair, D'Hondt is
    divisor-based and slightly favors large sources (the property it
    is famous for).

    Determinism: v ⁄ d is one correctly-rounded IEEE division of exact
    integers — bit-identical cross-engine — and exact cross-source
    quotient ties (e.g. 100⁄2 = 50⁄1) break by (source, d), the same
    total order in both engines.

    Scale shape: the doc-count rollup is the only corpus-sized pass
    (map-side combinable); everything after runs on |sources|·S rows.
    The ranking window is unpartitioned BY CONSTRUCTION over that
    bounded table (|sources| is a mixture-config cardinality, not a
    data cardinality — same argument as q_alloc_water_filling's
    prefix windows)."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.groupBy("source").agg(F.count("*").cast("long").alias("docs"))
    q = v.select(
        "source",
        "docs",
        F.explode(F.sequence(F.lit(1), F.lit(DHONDT_SEATS))).alias("d"),
    ).withColumn("quot", F.col("docs").cast("double") / F.col("d"))
    r = q.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("quot").desc(), "source", "d")
        ),
    )
    return (
        r.groupBy("source")
        .agg(
            F.min("docs").alias("docs"),
            F.coalesce(
                F.sum(F.when(F.col("rn") <= DHONDT_SEATS, 1)), F.lit(0)
            )
            .cast("long")
            .alias("seats"),
        )
        .orderBy("source")
    )


@query(
    "q_eval_diff_in_diff",
    oracle="""
WITH p AS (
  SELECT CAST(user_id % 2 = 1 AS BOOLEAN) AS treated,
         ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'purchase'
),
g AS (
  SELECT treated, post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         CAST(SUM(cents) * 10000 // count(*) AS BIGINT) AS mean_fx
  FROM p GROUP BY treated, post
)
SELECT treated, post, n, sum_cents, mean_fx,
       (SELECT (tp.mean_fx - tr.mean_fx) - (cp.mean_fx - cc.mean_fx)
        FROM g tp, g tr, g cp, g cc
        WHERE tp.treated AND tp.post AND tr.treated AND NOT tr.post
          AND NOT cp.treated AND cp.post
          AND NOT cc.treated AND NOT cc.post) AS did_fx
FROM g
ORDER BY treated, post
""",
)
def q_eval_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of a mid-month intervention's
    effect on purchase value: cohort = user parity (a deterministic
    stand-in for an assignment column), period split at Jan 16; the
    DiD estimator (post−pre)_treated − (post−pre)_control cancels both
    the cohort's level difference and the common time trend — the
    workhorse quasi-experimental read-out a product-analytics engine
    ships next to its A/B tooling (q_agg_chi_square,
    q_eval_calibration_bins).

    All four cell means are exact: integer cents, one fixed-point
    division each (sum·10⁴ div n); the DiD is integer subtraction of
    those, repeated on every row so the 4-row result carries the
    headline number without a separate scalar query.

    Scale shape: one filtered scan into a 4-group aggregate
    (map-side-combinable), then a broadcast of the 4-row cell table
    back onto itself for the cross-cell arithmetic — no shuffle grows
    with the data."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "post"
        ),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    g = p.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.expr("CAST(SUM(cents) * 10000 DIV count(*) AS BIGINT)").alias(
            "mean_fx"
        ),
    )
    did = (
        g.agg(
            (
                F.min(
                    F.when(F.col("treated") & F.col("post"), F.col("mean_fx"))
                )
                - F.min(
                    F.when(
                        F.col("treated") & ~F.col("post"), F.col("mean_fx")
                    )
                )
                - (
                    F.min(
                        F.when(
                            ~F.col("treated") & F.col("post"), F.col("mean_fx")
                        )
                    )
                    - F.min(
                        F.when(
                            ~F.col("treated") & ~F.col("post"),
                            F.col("mean_fx"),
                        )
                    )
                )
            ).alias("did_fx")
        )
    )
    return (
        g.crossJoin(F.broadcast(did))
        .select("treated", "post", "n", "sum_cents", "mean_fx", "did_fx")
        .orderBy("treated", "post")
    )


@query(
    "q_time_cross_correlation",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
),
s AS (
  SELECT day, event_type, CAST(SUM(cents) // 100 AS BIGINT) AS units
  FROM d GROUP BY day, event_type
),
x AS (SELECT day, units AS xu FROM s WHERE event_type = 'click'),
y AS (SELECT day, units AS yu FROM s WHERE event_type = 'purchase'),
lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
p AS (
  SELECT lags.lag, x.xu, y.yu
  FROM lags
  JOIN x ON TRUE
  JOIN y ON y.day = x.day + CAST(lags.lag || ' days' AS INTERVAL)
),
m AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(xu) AS BIGINT) AS sx, CAST(SUM(yu) AS BIGINT) AS sy,
         CAST(SUM(xu * xu) AS BIGINT) AS sxx,
         CAST(SUM(yu * yu) AS BIGINT) AS syy,
         CAST(SUM(xu * yu) AS BIGINT) AS sxy
  FROM p GROUP BY lag
)
SELECT lag, n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(FLOOR(
              CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000
              + 0.5) AS BIGINT)
            ELSE NULL END AS corr_fx
FROM m
ORDER BY lag
""",
)
def q_time_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click series and the
    daily purchase series (lags 0..7): does click volume LEAD
    purchases, and by how many days?  The bivariate extension of
    q_time_acf (autocorrelation) — the lead-lag scan behind
    marketing-mix and capacity forecasting.

    Determinism: daily series are exact integer units (cents summed
    then div 100 — one fixed-point step), the five sufficient
    statistics per lag are exact BIGINTs, and the Pearson quotient is
    one double division with IEEE-exact sqrt of exact integers —
    fixed-pointed ONCE at 1e-6 (the house one-floor-per-result
    discipline).

    Scale shape: the corpus-sized pass is the per-(day, type) rollup
    (map-side combinable); the lag join and moment aggregation run on
    |days|·|lags| rows.  At 100 TB of events the day table is still
    tiny — the lag scan's cost never grows with event count."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(F.expr("CAST(SUM(cents) DIV 100 AS BIGINT)").alias("units"))
    )
    x = s.filter(F.col("event_type") == "click").select(
        "day", F.col("units").alias("xu")
    )
    y = s.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("units").alias("yu")
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    p = (
        lags.crossJoin(x)
        .join(
            y,
            F.col("yday") == F.expr("date_add(day, lag)"),
        )
    )
    m = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xu").cast("long").alias("sx"),
        F.sum("yu").cast("long").alias("sy"),
        F.sum(F.col("xu") * F.col("xu")).cast("long").alias("sxx"),
        F.sum(F.col("yu") * F.col("yu")).cast("long").alias("syy"),
        F.sum(F.col("xu") * F.col("yu")).cast("long").alias("sxy"),
    )
    corr = F.when(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.sqrt(
                    (
                        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
            )
            * 1000000
            + 0.5
        ).cast("long"),
    )
    return m.select("lag", "n", corr.alias("corr_fx")).orderBy("lag")


@query(
    "q_er_sorted_neighborhood",
    oracle="""
WITH k AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 12)
           AS skey,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
  WHERE len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 4
),
o AS (
  SELECT doc_id, skey, toks,
         substr(skey, 1, 4) AS block,
         lead(doc_id, 1) OVER w AS nbr1,
         lead(doc_id, 2) OVER w AS nbr2
  FROM k
  WINDOW w AS (PARTITION BY substr(skey, 1, 4) ORDER BY skey, doc_id)
),
cand AS (
  SELECT doc_id AS doc_a, nbr1 AS doc_b FROM o WHERE nbr1 IS NOT NULL
  UNION ALL
  SELECT doc_id, nbr2 FROM o WHERE nbr2 IS NOT NULL
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
         CAST(len(a.toks) AS BIGINT) AS size_a,
         CAST(len(b.toks) AS BIGINT) AS size_b
  FROM cand c
  JOIN k a ON c.doc_a = a.doc_id
  JOIN k b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, inter, size_a, size_b
FROM scored
WHERE 3 * inter >= size_a + size_b
ORDER BY doc_a, doc_b
""",
)
def q_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking: sort records by
    a normalized key (lowercased alnum prefix), compare each record
    only to its w = 2 following neighbors, keep pairs with token-set
    Jaccard ≥ 0.5 — the THIRD classic blocking strategy next to
    q_er_symspell_match (edit-distance deletes) and
    q_er_fellegi_sunter (probabilistic field agreement), trading
    recall at block boundaries for a strictly linear candidate count
    (≤ w·n pairs, vs the quadratic naive join).

    Determinism: the neighbor relation rides a total order
    (skey, doc_id); the Jaccard threshold is the integer cross-product
    3·|∩| ≥ |A|+|B| (≡ J ≥ ½ without a double in sight).

    Scale shape: the sort window is PARTITIONED by the 4-char key
    prefix — the production form of sorted-neighborhood (range-
    partition the sort, window within partitions) — so no global sort
    and no single-task window; candidates are generated by lead(),
    i.e. zero self-joins, and only the ≤ 2n candidate pairs are
    re-tokenized for verification (join-back-on-candidates-only, the
    same shape as the LSH verify stage)."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        F.expr(
            "substr(regexp_replace(lower(text), '[^a-z0-9]', ''), 1, 12)"
        ).alias("skey"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    ).filter(
        F.length(
            F.expr("regexp_replace(lower(text), '[^a-z0-9]', '')")
        )
        >= 4
    )
    # k feeds the neighbor window and BOTH verify join-backs — persist
    # so normalization/tokenization runs once
    k = scoped_persist(k)
    w = Window.partitionBy(F.substring("skey", 1, 4)).orderBy(
        "skey", "doc_id"
    )
    o = k.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("nbr1"),
        F.lead("doc_id", 2).over(w).alias("nbr2"),
    )
    cand = (
        o.filter(F.col("nbr1").isNotNull())
        .select(F.col("doc_id").alias("doc_a"), F.col("nbr1").alias("doc_b"))
        .unionAll(
            o.filter(F.col("nbr2").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col("nbr2").alias("doc_b"),
            )
        )
    )
    toks = k.select("doc_id", "toks")
    scored = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")
            ),
            "doc_a",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            F.size("ta").cast("long").alias("size_a"),
            F.size("tb").cast("long").alias("size_b"),
        )
    )
    return (
        scored.filter(
            3 * F.col("inter") >= F.col("size_a") + F.col("size_b")
        )
        .orderBy("doc_a", "doc_b")
    )


# Systematic (low-variance) resampling: number of draws and the
# prefix-sum bucket width (same bucket recipe as llm/packing.py).
SYS_DRAWS = 200
_SYS_BUCKET = 64


@query(
    "q_sample_systematic",
    oracle=f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_chars AS BIGINT) AS weight
  FROM documents
),
c AS (
  SELECT doc_id, weight,
         CAST(SUM(weight) OVER (ORDER BY doc_id) AS BIGINT) AS cumw,
         CAST(SUM(weight) OVER () AS BIGINT) AS tot
  FROM w
),
f AS (
  SELECT doc_id, weight, cumw, tot,
         LEAST(CAST({SYS_DRAWS} AS BIGINT),
           GREATEST(CAST(0 AS BIGINT),
             ((2 * {SYS_DRAWS} * cumw - 1) // tot + 1) // 2)) AS f_hi,
         LEAST(CAST({SYS_DRAWS} AS BIGINT),
           GREATEST(CAST(0 AS BIGINT),
             ((2 * {SYS_DRAWS} * (cumw - weight) - 1) // tot + 1) // 2))
           AS f_lo
  FROM c
)
SELECT doc_id, weight, CAST(f_hi - f_lo AS BIGINT) AS copies
FROM f
WHERE f_hi > f_lo
ORDER BY doc_id
""",
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (low-variance) resampling of the corpus by character
    weight: N = 200 equally-spaced probe positions p_j = (2j+1)·W ⁄ 2N
    over the cumulative-weight axis, each document drawn once per
    probe inside its [cumw−w, cumw) interval — the resampler particle
    filters and mixture-rebalance pipelines use when multinomial
    draws are too noisy; copies are ∝ weight with variance < 1 per
    doc.  Complements q_sample_temperature (i.i.d. reweighting) and
    q_sample_cap_per_source (hard caps) with the equal-spacing family.

    Closed form, no position table: the number of probes below a
    cutoff c is #{{j : ⌊(2j+1)W ⁄ 2N⌋ < c}} = (((2Nc−1) div W)+1) div 2
    clamped to [0, N] — pure BIGINT ops — so copies = f(cumw) −
    f(cumw−w) needs only each doc's prefix sum, not a join against
    the probe set.

    Scale shape: the prefix sum is the distributed two-pass recipe
    (per-bucket partials over bucket = doc_id div 64, one tiny
    unpartitioned window over the bucket table, broadcast offsets
    back — llm/packing.py:66 documents the 100 TB sizing); everything
    downstream is a per-row projection.  The oracle uses the naive
    single window — the semantics, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("weight"),
    ).withColumn("bucket", F.expr(f"doc_id DIV {_SYS_BUCKET}"))
    bucket_offsets = (
        w.groupBy("bucket")
        .agg(F.sum("weight").alias("bw"))
        .withColumn(
            "boff",
            F.coalesce(
                F.sum("bw").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .select("bucket", "boff")
    )
    tot = w.agg(F.sum("weight").cast("long").alias("tot"))
    within = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = (
        w.join(F.broadcast(bucket_offsets), "bucket")
        .withColumn("cumw", F.col("boff") + F.sum("weight").over(within))
        .crossJoin(F.broadcast(tot))
    )
    n = SYS_DRAWS

    def probes_below(cut):
        raw = F.expr(f"((2 * {n} * {cut} - 1) DIV tot + 1) DIV 2")
        return F.least(
            F.lit(n).cast("long"), F.greatest(F.lit(0).cast("long"), raw)
        )

    f = c.select(
        "doc_id",
        "weight",
        probes_below("cumw").alias("f_hi"),
        probes_below("(cumw - weight)").alias("f_lo"),
    )
    return (
        f.filter(F.col("f_hi") > F.col("f_lo"))
        .select(
            "doc_id",
            "weight",
            (F.col("f_hi") - F.col("f_lo")).cast("long").alias("copies"),
        )
        .orderBy("doc_id")
    )


# Winnowing: word-3-gram hashes, window of 4 consecutive gram hashes,
# fingerprint = min hash per window (MOSS).  Fingerprints seen in more
# than HUB_CAP docs are dropped before pairing (boilerplate hubs).
WINNOW_W = 4
WINNOW_HUB_CAP = 64
WINNOW_MIN_SHARED = 2


@query(
    "q_text_winnowing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= 6
),
gh AS (
  SELECT doc_id,
         list_transform(range(len(toks) - 2),
           i -> md5(array_to_string(toks[i+1:i+3], ' '))) AS g
  FROM t
),
fp AS (
  SELECT DISTINCT doc_id, fp
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(g) - {WINNOW_W - 1}),
             i -> list_min(g[i+1:i+{WINNOW_W}]))) AS fp
    FROM gh
  )
),
freq AS (
  SELECT fp FROM fp GROUP BY fp
  HAVING count(*) <= {WINNOW_HUB_CAP}
),
kept AS (
  SELECT fp.doc_id, fp.fp FROM fp JOIN freq USING (fp)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared
FROM pairs
WHERE n_shared >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
""",
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm): hash every word
    3-gram, slide a window of w = 4 consecutive gram hashes, keep the
    window MINIMUM as a fingerprint — guaranteeing any shared run of
    ≥ w+2 words yields a shared fingerprint (the coverage guarantee
    mod-p sampling lacks), then report doc pairs sharing ≥ 2 distinct
    fingerprints.  Extends q_text_fingerprint (global min — one
    fingerprint/doc) to the positional sketch that powers
    plagiarism/near-clone detection at passage granularity.

    Determinism: the md5 family again — window minima are
    lexicographic hex mins, so the fingerprint SETS are bit-equal
    cross-engine and the oracle checks the sketch, not just the
    pair list.

    Scale shape: fingerprint extraction is a pure per-row projection
    (two staged array transforms — same staged-attribute-ref trick as
    q_text_fingerprint, no shuffle); pairing is an equi-join on the
    fingerprint (inverted-index shape, never all-pairs) with the
    production HUB CAP first: fingerprints in > 64 docs are
    boilerplate and would contribute deg² pairs (the identical cap
    argument as q_graph_adamic_adar's degree bound)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 6)
    tk = F.col("toks")
    gidx = F.sequence(F.lit(0), F.size(tk) - 3)
    grams = F.transform(
        gidx, lambda i: F.md5(F.concat_ws(" ", F.slice(tk, i + 1, 3)))
    )
    gh = t.select("doc_id", grams.alias("g"))
    gcol = F.col("g")
    widx = F.sequence(F.lit(0), F.size(gcol) - WINNOW_W)
    mins = F.transform(
        widx, lambda i: F.array_min(F.slice(gcol, i + 1, WINNOW_W))
    )
    # referenced by the frequency cap AND both sides of the pair join —
    # persist so gram hashing runs once, not four times
    fp = scoped_persist(
        gh.select("doc_id", F.explode(mins).alias("fp")).distinct()
    )
    freq = fp.groupBy("fp").count().filter(
        F.col("count") <= WINNOW_HUB_CAP
    ).select("fp")
    # r11 NEGATIVE RESULT (measured): persisting `kept` regressed
    # 2.5 s → 3.4 s. Both self-join sides DO recompute the freq
    # aggregate + fp⋈freq join, but from the fp cache that work is
    # cheaper than the extra materialization barrier and storage write
    # a second persist adds. fp stays the one cache.
    kept = fp.join(freq, "fp")
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        pairs.filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# Spatial grid join: 24-bit md5-derived coordinates on a 1000×1000
# plane, cell width = radius so candidates live in the 3×3 neighbor
# cells.
GRID_RADIUS = 25


@query(
    "q_join_spatial_grid",
    oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
pts AS (
  SELECT user_id,
         list_sum(list_transform(range(6), i ->
           CAST(strpos('0123456789abcdef',
                substr(md5('gx:' || CAST(user_id AS VARCHAR)), i + 1, 1)) - 1
              AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (5 - i))))) % 1000
           AS x,
         list_sum(list_transform(range(6), i ->
           CAST(strpos('0123456789abcdef',
                substr(md5('gy:' || CAST(user_id AS VARCHAR)), i + 1, 1)) - 1
              AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (5 - i))))) % 1000
           AS y
  FROM u
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
FROM pts a JOIN pts b ON a.user_id < b.user_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {GRID_RADIUS * GRID_RADIUS}
ORDER BY user_a, user_b
""",
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join via GRID BUCKETING: place each user
    at deterministic md5-derived coordinates on a 1000×1000 plane (a
    stand-in for any point column — geohash, H3 cell, embedding-PCA
    2D), and find all pairs within Euclidean radius 25.  Cell width =
    radius, so every qualifying pair lies in the 3×3 neighborhood of
    one point's cell: explode 9 neighbor offsets on ONE side, equi-join
    on the cell key, then exact-distance filter — the standard
    all-pairs-to-equi-join reduction every spatial engine (and every
    LSH variant) is built on.  The ORACLE is the exhaustive quadratic
    pair join; the engine plan must never be.

    Determinism: coordinates are exact integers from the md5 hex
    family (24-bit prefix mod 1000), distances are integer squares.

    Scale shape: candidates = one explode(9) + one equi-join on the
    cell id — cost Σ |cell|² over neighbor cells, never n²; each
    (a, b) pair matches exactly once (b's cell is unique, a's explode
    covers it once).  At 100 TB, cell density is tuned by cell width
    exactly as LSH band width tunes bucket size; the join key is an
    8-byte cell id and AQE handles dense-cell skew."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()

    def axis(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("user_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 1000
        )

    pts = u.select(
        "user_id", axis("gx:").alias("x"), axis("gy:").alias("y")
    )
    r = GRID_RADIUS
    a = pts.select(
        F.col("user_id").alias("user_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(*[F.lit(i) for i in (-1, 0, 1)])
        ).alias("ox"),
    ).select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("oy"),
    ).select(
        "user_a",
        "xa",
        "ya",
        (F.floor(F.col("xa") / r) + F.col("ox")).alias("cx"),
        (F.floor(F.col("ya") / r) + F.col("oy")).alias("cy"),
    )
    b = pts.select(
        F.col("user_id").alias("user_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.floor(F.col("x") / r).alias("cx"),
        F.floor(F.col("y") / r).alias("cy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("user_a") < F.col("user_b"))
        .filter(d2 <= r * r)
        .select(
            "user_a", "user_b", d2.cast("long").alias("d2")
        )
        .orderBy("user_a", "user_b")
    )


@query(
    "q_customer_growth_accounting",
    oracle="""
WITH am AS (
  SELECT DISTINCT o_custkey AS c, date_trunc('month', o_orderdate) AS m
  FROM orders
),
seq AS (
  SELECT c, m,
         lag(m) OVER (PARTITION BY c ORDER BY m) AS prev_m,
         min(m) OVER (PARTITION BY c) AS first_m
  FROM am
),
states AS (
  SELECT m,
         CAST(count(CASE WHEN m = first_m THEN 1 END) AS BIGINT) AS n_new,
         CAST(count(CASE WHEN prev_m = m - INTERVAL 1 MONTH THEN 1 END)
              AS BIGINT) AS n_retained,
         CAST(count(CASE WHEN m <> first_m
                          AND (prev_m IS NULL
                               OR prev_m < m - INTERVAL 1 MONTH) THEN 1 END)
              AS BIGINT) AS n_resurrected
  FROM seq GROUP BY m
),
churn AS (
  SELECT m + INTERVAL 1 MONTH AS m, CAST(count(*) AS BIGINT) AS n_churned
  FROM (
    SELECT c, m,
           lead(m) OVER (PARTITION BY c ORDER BY m) AS next_m
    FROM am
  )
  WHERE next_m IS NULL OR next_m > m + INTERVAL 1 MONTH
  GROUP BY m + INTERVAL 1 MONTH
)
SELECT states.m AS month, n_new, n_retained, n_resurrected,
       COALESCE(churn.n_churned, 0) AS n_churned,
       n_new + n_retained + n_resurrected AS n_active
FROM states LEFT JOIN churn ON states.m = churn.m
ORDER BY month
""",
)
def q_customer_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting over ordering customers — the
    new / retained / resurrected / churned decomposition that makes a
    topline active count EXPLAINABLE (every month's actives = new +
    retained + resurrected; churn shows up as next month's loss), the
    canonical product-analytics ledger one level above q_growth_mom's
    raw deltas and q_retention_cohort's fixed-cohort view.

    Semantics: new = first active month; retained = active in the
    adjacent previous month; resurrected = active after a gap;
    churned(m) = active in m−1 but not m (attributed to m).  All from
    one distinct (customer, month) table via lag/lead windows — no
    month×customer dense cross join.

    Determinism: pure month arithmetic on date_trunc'd timestamps and
    integer counts; INTERVAL 1 MONTH steps are calendar-exact in both
    engines.

    Scale shape: one distinct pass (map-side combinable on the
    (custkey, month) key), two per-customer windows on one shuffle,
    and a |months|-sized join for the churn attach.  At 100 TB the
    per-customer month list is dozens of rows — the window never sees
    a heavy partition."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    am = o.select(
        F.col("o_custkey").alias("c"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    ).distinct()
    wc = Window.partitionBy("c").orderBy("m")
    wall = Window.partitionBy("c")
    seq = am.select(
        "c",
        "m",
        F.lag("m").over(wc).alias("prev_m"),
        F.min("m").over(wall).alias("first_m"),
        F.lead("m").over(wc).alias("next_m"),
    )
    states = seq.groupBy("m").agg(
        F.count(F.when(F.col("m") == F.col("first_m"), 1))
        .cast("long")
        .alias("n_new"),
        F.count(
            F.when(F.col("prev_m") == F.expr("m - INTERVAL 1 MONTH"), 1)
        )
        .cast("long")
        .alias("n_retained"),
        F.count(
            F.when(
                (F.col("m") != F.col("first_m"))
                & (
                    F.col("prev_m").isNull()
                    | (F.col("prev_m") < F.expr("m - INTERVAL 1 MONTH"))
                ),
                1,
            )
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    churn = (
        seq.filter(
            F.col("next_m").isNull()
            | (F.col("next_m") > F.expr("m + INTERVAL 1 MONTH"))
        )
        .groupBy(F.expr("m + INTERVAL 1 MONTH").alias("m"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        states.join(churn, "m", "left")
        .select(
            F.col("m").alias("month"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0).cast("long")).alias(
                "n_churned"
            ),
            (
                F.col("n_new") + F.col("n_retained") + F.col("n_resurrected")
            ).alias("n_active"),
        )
        .orderBy("month")
    )


@query(
    "q_alloc_airport_shapley",
    oracle="""
WITH dem AS (
  SELECT source, CAST(max(n_chars) AS BIGINT) AS d
  FROM documents GROUP BY source
),
r AS (
  SELECT source, d,
         row_number() OVER (ORDER BY d, source) AS rn,
         count(*) OVER () AS n,
         COALESCE(lag(d) OVER (ORDER BY d, source), 0) AS prev_d
  FROM dem
),
inc AS (
  SELECT source, d, rn, n,
         CAST((d - prev_d) * 1000000 // (n - rn + 1) AS BIGINT) AS inc_fx
  FROM r
)
SELECT source, d AS demand,
       CAST(SUM(inc_fx) OVER (ORDER BY rn) AS BIGINT) AS share_fx
FROM inc
ORDER BY source
""",
)
def q_alloc_airport_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value cost sharing for the AIRPORT GAME: sources share
    one runway-like resource sized by the largest demand (here: the
    longest document per source sizes a shared buffer); the unique
    fair split charges each incremental slice (d_k − d_{k−1}) equally
    to every source needing at least d_k, so φ_i = Σ_{k≤i}
    (d_k − d_{k−1}) ⁄ (n−k+1) over the demand-sorted order — the
    game-theoretic fourth member of the allocation family
    (proportional → q_alloc_largest_remainder, max-min fair →
    q_alloc_water_filling, divisor → q_alloc_dhondt, coalitional →
    this).

    Determinism: each increment is fixed-pointed ONCE
    ((Δ·10⁶) div share-count, exact BIGINTs), then prefix-summed —
    order-free integer arithmetic; ties in demand break by source.

    Scale shape: demands are one map-side-combinable rollup; the
    sort/lag/prefix windows run on the |sources|-bounded table
    (config-sized, the q_alloc_water_filling argument)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dem = docs.groupBy("source").agg(
        F.max("n_chars").cast("long").alias("d")
    )
    wo = Window.orderBy("d", "source")
    wall = Window.partitionBy()
    r = dem.select(
        "source",
        "d",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wall).alias("n"),
        F.coalesce(F.lag("d").over(wo), F.lit(0).cast("long")).alias(
            "prev_d"
        ),
    )
    inc = r.select(
        "source",
        "d",
        "rn",
        F.expr(
            "CAST((d - prev_d) * 1000000 DIV (n - rn + 1) AS BIGINT)"
        ).alias("inc_fx"),
    )
    wpfx = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    return (
        inc.select(
            "source",
            F.col("d").alias("demand"),
            F.sum("inc_fx").over(wpfx).cast("long").alias("share_fx"),
        )
        .orderBy("source")
    )


# Periodogram: candidate periods (days) and the module-level fixed-point
# trig tables — computed ONCE in Python and interpolated as literals
# into BOTH the Spark expression and the DuckDB oracle, so the only
# transcendental evaluation happens here (the one-floor-per-vocab-entry
# discipline taken to its logical end: the vocab is (period, phase)).
import math as _math

PERIODS = (7, 14, 30)
_COS_FX = {
    p: [int(_math.floor(_math.cos(2 * _math.pi * k / p) * 1e6 + 0.5)) for k in range(p)]
    for p in PERIODS
}
_SIN_FX = {
    p: [int(_math.floor(_math.sin(2 * _math.pi * k / p) * 1e6 + 0.5)) for k in range(p)]
    for p in PERIODS
}


def _trig_sql(tab: dict[int, list[int]]) -> str:
    """CASE period WHEN p THEN [..][phase+1] — DuckDB list literals."""
    arms = " ".join(
        f"WHEN {p} THEN (ARRAY{tab[p]})[phase + 1]" for p in PERIODS
    )
    return f"CASE period {arms} END"


@query(
    "q_time_periodogram",
    oracle=f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click'
),
s AS (
  SELECT day, CAST(SUM(cents) // 100 AS BIGINT) AS x
  FROM d GROUP BY day
),
g AS (
  SELECT p.period, s.day, s.x,
         CAST(s.day % p.period AS BIGINT) AS phase
  FROM s, (SELECT unnest(ARRAY{list(PERIODS)}) AS period) p
),
w AS (
  SELECT period,
         CAST(SUM(x * ({_trig_sql(_COS_FX)})) AS BIGINT) AS c_fx,
         CAST(SUM(x * ({_trig_sql(_SIN_FX)})) AS BIGINT) AS s_fx
  FROM g GROUP BY period
)
SELECT period, c_fx, s_fx,
       CAST((c_fx // 1000000) * (c_fx // 1000000)
            + (s_fx // 1000000) * (s_fx // 1000000) AS BIGINT) AS power
FROM w
ORDER BY period
""",
)
def q_time_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the daily click-revenue series at candidate
    periods 7 / 14 / 30 days: spectral power
    (Σ x_d cos(2πd⁄P))² + (Σ x_d sin(2πd⁄P))² — the DFT probe that
    answers 'is the weekly cycle real, and is it stronger than a
    fortnightly or monthly one?' — the frequency-domain complement of
    q_time_acf (lag domain) and q_time_stl_additive (fixed weekly
    decomposition).

    Determinism: the ONLY transcendentals are the 51 cos/sin table
    entries, fixed-pointed ONCE at module import and interpolated as
    integer literals into both engines' queries (the vocab here is
    (period, phase) — bounded by config, never by data); after that,
    power is pure BIGINT arithmetic, with the 1e6 de-scaling BEFORE
    squaring so the squares stay in int64 at any corpus size.

    Scale shape: the corpus pass is the per-day rollup (map-side
    combinable); the spectral sums run on |days|·|periods| rows.  The
    phase lookup is an O(1) array index, not a join."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("long").alias(
                "day"
            ),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(cents) DIV 100 AS BIGINT)").alias("x"))
    )
    periods = spark.createDataFrame(
        [(p,) for p in PERIODS], "period int"
    )
    g = s.crossJoin(F.broadcast(periods)).withColumn(
        "phase", (F.col("day") % F.col("period")).cast("int")
    )
    # build CASE period WHEN p THEN array(...)[phase] chains
    cos_expr = None
    sin_expr = None
    for p in PERIODS:
        ca = F.element_at(
            F.array(*[F.lit(v) for v in _COS_FX[p]]), F.col("phase") + 1
        )
        sa = F.element_at(
            F.array(*[F.lit(v) for v in _SIN_FX[p]]), F.col("phase") + 1
        )
        cond = F.col("period") == p
        cos_expr = ca if cos_expr is None else F.when(cond, ca).otherwise(cos_expr)
        sin_expr = sa if sin_expr is None else F.when(cond, sa).otherwise(sin_expr)
    w = g.groupBy("period").agg(
        F.sum(F.col("x") * cos_expr.cast("long")).cast("long").alias("c_fx"),
        F.sum(F.col("x") * sin_expr.cast("long")).cast("long").alias("s_fx"),
    )
    return w.select(
        "period",
        "c_fx",
        "s_fx",
        (
            (F.col("c_fx") / 1000000).cast("long")
            * (F.col("c_fx") / 1000000).cast("long")
            + (F.col("s_fx") / 1000000).cast("long")
            * (F.col("s_fx") / 1000000).cast("long")
        ).alias("power"),
    ).orderBy("period")


@query(
    "q_eval_propensity_matching",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(user_id % 2 = 1 AS BOOLEAN) AS treated,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
              * 10000
              // NULLIF(count(CASE WHEN event_type = 'click' THEN 1 END), 0)
              AS BIGINT) AS score,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END)
              * 10000
              // NULLIF(count(CASE WHEN event_type = 'purchase' THEN 1 END),
                        0)
              AS BIGINT) AS outcome
  FROM events
  GROUP BY user_id
  HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
     AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
),
s AS (
  SELECT user_id, treated, score, outcome,
         CASE WHEN NOT treated THEN score END AS cs,
         CASE WHEN NOT treated THEN outcome END AS co,
         CASE WHEN NOT treated THEN user_id END AS cu
  FROM u
),
nb AS (
  SELECT user_id, treated, score, outcome,
         last_value(cs IGNORE NULLS) OVER (
           ORDER BY score, treated, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cs,
         last_value(co IGNORE NULLS) OVER (
           ORDER BY score, treated, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_co,
         first_value(cs IGNORE NULLS) OVER (
           ORDER BY score, treated, user_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cs,
         first_value(co IGNORE NULLS) OVER (
           ORDER BY score, treated, user_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_co
  FROM s
),
m AS (
  SELECT user_id, score, outcome,
         CASE WHEN next_cs IS NULL THEN prev_co
              WHEN prev_cs IS NULL THEN next_co
              WHEN score - prev_cs <= next_cs - score THEN prev_co
              ELSE next_co END AS mo,
         CASE WHEN next_cs IS NULL THEN score - prev_cs
              WHEN prev_cs IS NULL THEN next_cs - score
              WHEN score - prev_cs <= next_cs - score THEN score - prev_cs
              ELSE next_cs - score END AS gap
  FROM nb
  WHERE treated
)
SELECT CAST(count(*) AS BIGINT) AS n_treated,
       CAST(count(mo) AS BIGINT) AS n_matched,
       CAST(SUM(outcome - mo) // count(mo) AS BIGINT) AS att_fx,
       CAST(SUM(gap) // count(gap) AS BIGINT) AS mean_gap_fx
FROM m
""",
)
def q_eval_propensity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor propensity-score matching with replacement:
    treated users (parity cohort) each match the control whose
    propensity score (mean click spend, fixed-point) is nearest, and
    the average treated-minus-matched-control purchase outcome is the
    ATT estimate — the matching-based causal read-out next to
    q_eval_diff_in_diff (time-based identification); mean match gap is
    the balance diagnostic.

    The matching itself is the SORTED-MERGE trick, not a join: sort
    treated and controls together by (score, treated, user_id) — a
    total order — and every treated row's nearest control is either
    the last control at-or-before it (last_value IGNORE NULLS looking
    back) or the first control after it (first_value looking forward),
    whichever is score-closer (ties → the earlier side, exactly
    mirrored in both engines).  This is q_join_asof's merge-form
    recipe transplanted from the time axis to the score axis.

    Determinism: scores/outcomes are fixed-point integer means
    (sum·10⁴ div n), gaps and the ATT are integer arithmetic with one
    final integer division each.

    Scale shape (r7): per-user rollup (map-side combinable), then the
    score axis is RANGE-BUCKETED (fixed width 2²²) so the asof windows
    partition by bucket and sort in parallel; bucket BOUNDARIES are
    patched exactly — per-bucket first/last control summaries (a
    bucket-count-sized table) get exclusive cumulative fills across the
    bucket spine and are broadcast back, so a treated row whose bucket
    holds no control on one side falls back to the adjacent buckets'
    control. Semantics identical to the single sort (the oracle keeps
    the unpartitioned form); wall-clock is no longer bounded by one
    task. r7 scale run measured the old single-task form at ~5× for
    10× data with every stage (0+1)/1 — this removes that ceiling."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", cents)).alias("sc"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("nc"),
            F.sum(F.when(F.col("event_type") == "purchase", cents)).alias(
                "sp"
            ),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "np"
            ),
        )
        .filter((F.col("nc") > 0) & (F.col("np") > 0))
        .select(
            "user_id",
            (F.col("user_id") % 2 == 1).alias("treated"),
            F.expr("CAST(sc * 10000 DIV nc AS BIGINT)").alias("score"),
            F.expr("CAST(sp * 10000 DIV np AS BIGINT)").alias("outcome"),
        )
    )
    s = u.select(
        "user_id",
        "treated",
        "score",
        "outcome",
        F.when(~F.col("treated"), F.col("score")).alias("cs"),
        F.when(~F.col("treated"), F.col("outcome")).alias("co"),
    )
    from pyspark.sql import Window

    bucket_w = 1 << 22  # fixed score-axis range bucket (~120 buckets here)
    s2 = s.withColumn("bkt", F.expr(f"CAST(score DIV {bucket_w} AS BIGINT)"))
    order = [F.col("score"), F.col("treated"), F.col("user_id")]
    wb = (
        Window.partitionBy("bkt").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("bkt").orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    local = s2.select(
        "user_id",
        "treated",
        "score",
        "outcome",
        "bkt",
        F.last("cs", ignorenulls=True).over(wb).alias("l_prev_cs"),
        F.last("co", ignorenulls=True).over(wb).alias("l_prev_co"),
        F.first("cs", ignorenulls=True).over(wf).alias("l_next_cs"),
        F.first("co", ignorenulls=True).over(wf).alias("l_next_co"),
    )
    # boundary patch: per-bucket first/last CONTROL summaries, filled
    # exclusively across the bucket spine (bucket-count-sized — the
    # unpartitioned windows here run over ~120 rows, not the corpus)
    ctrl_sum = (
        s2.filter(~F.col("treated"))
        .groupBy("bkt")
        .agg(
            F.expr(
                "max_by(named_struct('cs', cs, 'co', co),"
                " named_struct('s', score, 'u', user_id))"
            ).alias("lastc"),
            F.expr(
                "min_by(named_struct('cs', cs, 'co', co),"
                " named_struct('s', score, 'u', user_id))"
            ).alias("firstc"),
        )
    )
    spine = s2.select("bkt").distinct().join(ctrl_sum, "bkt", "left")
    wsp = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    wsf = Window.orderBy("bkt").rowsBetween(1, Window.unboundedFollowing)
    cum = spine.select(
        "bkt",
        F.last("lastc", ignorenulls=True).over(wsp).alias("cum_prev"),
        F.first("firstc", ignorenulls=True).over(wsf).alias("cum_next"),
    )
    nb = local.join(F.broadcast(cum), "bkt").select(
        "user_id",
        "treated",
        "score",
        "outcome",
        F.coalesce("l_prev_cs", F.col("cum_prev.cs")).alias("prev_cs"),
        F.coalesce("l_prev_co", F.col("cum_prev.co")).alias("prev_co"),
        F.coalesce("l_next_cs", F.col("cum_next.cs")).alias("next_cs"),
        F.coalesce("l_next_co", F.col("cum_next.co")).alias("next_co"),
    )
    pick_prev = (
        F.col("next_cs").isNull()
        | (
            F.col("prev_cs").isNotNull()
            & (
                F.col("score") - F.col("prev_cs")
                <= F.col("next_cs") - F.col("score")
            )
        )
    )
    m = nb.filter(F.col("treated")).select(
        "outcome",
        F.when(pick_prev, F.col("prev_co"))
        .otherwise(F.col("next_co"))
        .alias("mo"),
        F.when(pick_prev, F.col("score") - F.col("prev_cs"))
        .otherwise(F.col("next_cs") - F.col("score"))
        .alias("gap"),
    )
    return m.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.count("mo").cast("long").alias("n_matched"),
        F.expr("CAST(SUM(outcome - mo) DIV count(mo) AS BIGINT)").alias(
            "att_fx"
        ),
        F.expr("CAST(SUM(gap) DIV count(gap) AS BIGINT)").alias(
            "mean_gap_fx"
        ),
    )


def _mp_median(src: str, key: str, val: str = "v") -> str:
    """Lower-median-per-{key} CTE body (DuckDB): the value at ascending
    rank ceil(n/2) — an exact order statistic, integer-safe."""
    return f"""
  SELECT {key},
         min(CASE WHEN rn = (n + 1) // 2 THEN {val} END) AS med
  FROM (
    SELECT {key}, {val},
           row_number() OVER (PARTITION BY {key} ORDER BY {val}) AS rn,
           count(*) OVER (PARTITION BY {key}) AS n
    FROM {src}
  )
  GROUP BY {key}"""


@query(
    "q_agg_median_polish",
    oracle=f"""
WITH g0 AS (
  SELECT o_orderpriority AS r, CAST(month(o_orderdate) AS BIGINT) AS c,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
),
rm1 AS ({_mp_median("g0", "r")}),
g1 AS (
  SELECT g0.r, g0.c, g0.v - rm1.med AS v
  FROM g0 JOIN rm1 ON g0.r = rm1.r
),
cm1 AS ({_mp_median("g1", "c")}),
g2 AS (
  SELECT g1.r, g1.c, g1.v - cm1.med AS v
  FROM g1 JOIN cm1 ON g1.c = cm1.c
),
rm2 AS ({_mp_median("g2", "r")}),
g3 AS (
  SELECT g2.r, g2.c, g2.v - rm2.med AS v
  FROM g2 JOIN rm2 ON g2.r = rm2.r
),
cm2 AS ({_mp_median("g3", "c")}),
g4 AS (
  SELECT g3.r, g3.c, g3.v - cm2.med AS v
  FROM g3 JOIN cm2 ON g3.c = cm2.c
)
SELECT kind, key, CAST(eff AS BIGINT) AS effect_cents FROM (
  SELECT 'row' AS kind, rm1.r AS key, rm1.med + rm2.med AS eff
  FROM rm1 JOIN rm2 ON rm1.r = rm2.r
  UNION ALL
  SELECT 'col', CAST(cm1.c AS VARCHAR), cm1.med + cm2.med
  FROM cm1 JOIN cm2 ON cm1.c = cm2.c
  UNION ALL
  SELECT 'resid_abs_sum', '*', SUM(abs(v)) FROM g4
)
ORDER BY kind, key
""",
)
def q_agg_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey MEDIAN POLISH of the (order priority × calendar month)
    revenue matrix — two alternating sweeps of row-median and
    column-median subtraction, accumulating additive row/column
    effects with a residual table left behind: the robust two-way
    decomposition (medians shrug off a quarter of wild cells where
    q_agg_ols_regression's means would chase them), the EDA
    counterpart of q_time_stl_additive on a categorical grid.  Sweep
    count FIXED at 2, lower-median convention (rank ⌈n⁄2⌉) — both
    choices mirrored in the unrolled oracle (the kcore discipline),
    keeping every quantity an exact integer with no half-cent
    averaging.

    Scale shape: the corpus-sized pass is the ONE grid rollup
    (map-side combinable onto |priorities|·|months| = 60 keys); the
    polish itself runs DRIVER-SIDE on the collected grid — the
    bounded-driver-state pattern of operators/selection.py, legal here
    because the grid is DIMENSION-bounded (priorities × months), not
    corpus-sized, and guarded by an explicit cap exactly like
    selection.py's max_groups. The r8 rewrite replaced the previous
    all-lazy dataframe polish (4 key-partitioned windows + 6 joins
    over a cached 60-row grid — ~15 plan references whose stage
    overhead dwarfed the actual work) with exact integer arithmetic on
    the driver: one corpus job, then O(grid) Python. At 100 TB only
    the rollup grows; the polish stays O(|priorities|·|months|)."""
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(
            F.col("o_orderpriority").alias("r"),
            F.month("o_orderdate").cast("long").alias("c"),
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("v")
        )
    )
    # dimension-bounded guard (cf. max_groups) — enforced BY the transfer
    # itself, not after it (r8 advisor: a post-collect len() check detects
    # rather than prevents an unbounded-key-domain OOM): limit(cap+1)
    # bounds the driver transfer to cap+1 rows in the same single job,
    # and the overflow row proves the violation without materializing it
    _GRID_CAP = 100_000
    rows = g.limit(_GRID_CAP + 1).collect()
    if len(rows) > _GRID_CAP:
        raise ValueError(
            "median-polish grid exceeds the bounded-driver-state cap; "
            "use a distributed polish for unbounded key domains"
        )
    grid = {(row.r, row.c): int(row.v) for row in rows}

    def lower_median(vals: list[int]) -> int:
        # rank ⌈n/2⌉ in ascending order — the (n + 1) DIV 2 convention
        # of the oracle, exact integers throughout
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    row_keys = sorted({r for r, _ in grid})
    col_keys = sorted({c for _, c in grid})
    row_eff = {r: 0 for r in row_keys}
    col_eff = {c: 0 for c in col_keys}
    for _sweep in (1, 2):
        for r in row_keys:
            med = lower_median([v for (rr, _), v in grid.items() if rr == r])
            row_eff[r] += med
            for key in [k for k in grid if k[0] == r]:
                grid[key] -= med
        for c in col_keys:
            med = lower_median([v for (_, cc), v in grid.items() if cc == c])
            col_eff[c] += med
            for key in [k for k in grid if k[1] == c]:
                grid[key] -= med
    resid = sum(abs(v) for v in grid.values())
    out = (
        [("row", r, row_eff[r]) for r in row_keys]
        + [("col", str(c), col_eff[c]) for c in col_keys]
        + [("resid_abs_sum", "*", resid)]
    )
    return spark.createDataFrame(
        out, "kind string, key string, effect_cents long"
    ).orderBy("kind", "key")


@query(
    "q_time_control_chart",
    oracle="""
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click'
),
s AS (
  SELECT day, CAST(SUM(cents) // 100 AS BIGINT) AS x
  FROM d GROUP BY day
),
mr AS (
  SELECT day, x,
         abs(x - lag(x) OVER (ORDER BY day)) AS mr
  FROM s
),
lim AS (
  SELECT CAST(SUM(x) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(mr) AS BIGINT) AS smr,
         CAST(count(mr) AS BIGINT) AS nmr
  FROM mr
)
SELECT mr.day, mr.x, mr.mr,
       (mr.x * lim.n * lim.nmr * 100
          > lim.sx * lim.nmr * 100 + 266 * lim.smr * lim.n) AS above_ucl,
       (mr.x * lim.n * lim.nmr * 100
          < lim.sx * lim.nmr * 100 - 266 * lim.smr * lim.n) AS below_lcl
FROM mr, lim
ORDER BY mr.day
""",
)
def q_time_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals/moving-range (I-MR) control chart over daily click
    revenue: centerline X̄, control limits X̄ ± 2.66·MR̄ (the Shewhart
    E₂ constant for subgroup size 1), out-of-control days flagged —
    the SPC read-out operations teams run on any KPI stream, and a
    different decision rule than q_anomaly_zscore (limits derive from
    short-term moving range, not global σ, so slow drifts don't
    inflate the limits that should catch them).

    Determinism: the limit comparison is fully cross-multiplied —
    x·n·n_mr·100 vs sx·n_mr·100 ± 266·smr·n — exact BIGINTs, no
    division anywhere (2.66 enters as the rational 266⁄100).

    Scale shape: per-day rollup (map-side combinable), one |days|-row
    lag window, and a broadcast 1-row limits join.  The flag pass
    never rescans events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(cents) DIV 100 AS BIGINT)").alias("x"))
    )
    w = Window.orderBy("day")
    mr = s.withColumn("mr", F.abs(F.col("x") - F.lag("x").over(w)))
    lim = mr.agg(
        F.sum("x").cast("long").alias("sx"),
        F.count("*").cast("long").alias("n"),
        F.sum("mr").cast("long").alias("smr"),
        F.count("mr").cast("long").alias("nmr"),
    )
    j = mr.crossJoin(F.broadcast(lim))
    lhs = F.col("x") * F.col("n") * F.col("nmr") * 100
    center = F.col("sx") * F.col("nmr") * 100
    band = 266 * F.col("smr") * F.col("n")
    return j.select(
        "day",
        "x",
        "mr",
        (lhs > center + band).alias("above_ucl"),
        (lhs < center - band).alias("below_lcl"),
    ).orderBy("day")


RS_SIZES = (4, 8, 16)  # rescaled-range segment sizes (days)


@query(
    "q_time_rescaled_range",
    oracle=f"""
WITH d AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click'
),
s AS (
  SELECT day, CAST(SUM(cents) // 100 AS BIGINT) AS x
  FROM d GROUP BY day
),
sz AS (SELECT unnest(ARRAY{list(RS_SIZES)}) AS sgs),
seg AS (
  SELECT sz.sgs, s.day // sz.sgs AS seg, s.day, s.x,
         CAST(count(*) OVER () AS BIGINT) AS ndays
  FROM s, sz
  WHERE s.day < sz.sgs * ((SELECT count(*) FROM s) // sz.sgs)
),
y AS (
  SELECT sgs, seg, day,
         CAST(sgs * x - SUM(x) OVER (PARTITION BY sgs, seg) AS BIGINT) AS y
  FROM seg
),
cum AS (
  SELECT sgs, seg,
         CAST(SUM(y) OVER (PARTITION BY sgs, seg ORDER BY day) AS BIGINT)
           AS cy,
         y
  FROM y
),
per AS (
  SELECT sgs, seg,
         CAST(max(cy) - min(cy) AS BIGINT) AS rng,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM cum GROUP BY sgs, seg
),
rs AS (
  SELECT sgs, seg,
         CASE WHEN sy2 > 0 THEN CAST(FLOOR(
           CAST(rng AS DOUBLE) * sqrt(CAST(sgs AS DOUBLE))
           / sqrt(CAST(sy2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         END AS rs_fx
  FROM per
)
SELECT sgs AS segment_days,
       CAST(count(rs_fx) AS BIGINT) AS n_segments,
       CAST(SUM(rs_fx) // count(rs_fx) AS BIGINT) AS mean_rs_fx
FROM rs
GROUP BY sgs
ORDER BY sgs
""",
)
def q_time_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R ⁄ S) statistics of the daily click series at
    segment sizes 4 / 8 / 16 days — the Hurst-exponent ingredient:
    long-memory series show mean R⁄S growing ≈ s^H with H > ½, white
    noise H = ½; reporting exact per-size means leaves the log-log
    slope to the consumer, keeping every checked value deterministic
    (a per-segment ln would be a data-dependent transcendental — the
    one thing the house discipline forbids).

    Exactness: per-segment deviations are scaled by s (y = s·x − Σx,
    integer), so cumulative deviations, ranges, and Σy² are exact
    BIGINTs; R⁄S = rng·√s ⁄ √Σy² algebraically (the s-scalings
    cancel), two IEEE sqrt + one divide on exact inputs, fixed-pointed
    ONCE per segment.

    Scale shape: day rollup (corpus pass), then |sizes|·|days| rows
    through PARTITIONED (size, segment) windows — never a global
    window; the complete-segment cutoff keeps every segment exactly s
    days so integer scaling is uniform."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            .cast("long")
            .alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(cents) DIV 100 AS BIGINT)").alias("x"))
    )
    s = scoped_persist(s)
    ndays = s.agg(F.count("*").cast("long").alias("nd"))
    sizes = spark.createDataFrame([(v,) for v in RS_SIZES], "sgs long")
    seg = (
        s.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(ndays))
        .filter(F.col("day") < F.col("sgs") * F.expr("nd DIV sgs"))
        .select("sgs", F.expr("day DIV sgs").alias("seg"), "day", "x")
    )
    wseg = Window.partitionBy("sgs", "seg")
    y = seg.withColumn(
        "y",
        (F.col("sgs") * F.col("x") - F.sum("x").over(wseg)).cast("long"),
    )
    wcum = (
        Window.partitionBy("sgs", "seg")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = y.withColumn("cy", F.sum("y").over(wcum).cast("long"))
    per = cum.groupBy("sgs", "seg").agg(
        (F.max("cy") - F.min("cy")).cast("long").alias("rng"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
    )
    rs = per.select(
        "sgs",
        F.when(
            F.col("sy2") > 0,
            F.floor(
                F.col("rng").cast("double")
                * F.sqrt(F.col("sgs").cast("double"))
                / F.sqrt(F.col("sy2").cast("double"))
                * 1000000
                + 0.5
            ).cast("long"),
        ).alias("rs_fx"),
    )
    return (
        rs.groupBy(F.col("sgs").alias("segment_days"))
        .agg(
            F.count("rs_fx").cast("long").alias("n_segments"),
            F.expr("CAST(SUM(rs_fx) DIV count(rs_fx) AS BIGINT)").alias(
                "mean_rs_fx"
            ),
        )
        .orderBy("segment_days")
    )


# Simplified soundex letter→class map (a..z): vowels/h/w/y → 0 (run
# breakers, later stripped), labials 1, gutturals/sibilants 2, dentals
# 3, l 4, nasals 5, r 6.
_PHONETIC_MAP = "01230120022455012623010202"


@query(
    "q_er_phonetic_blocking",
    oracle=f"""
WITH w AS (
  SELECT p_partkey, string_split(p_name, ' ')[1] AS word
  FROM part
),
c AS (
  SELECT p_partkey, word,
         upper(substr(word, 1, 1))
         || substr(
              replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                  translate(substr(word, 2), 'abcdefghijklmnopqrstuvwxyz',
                            '{_PHONETIC_MAP}'),
                  '1{{2,}}', '1', 'g'), '2{{2,}}', '2', 'g'),
                  '3{{2,}}', '3', 'g'), '4{{2,}}', '4', 'g'),
                  '5{{2,}}', '5', 'g'), '6{{2,}}', '6', 'g'),
                '0', '') || '000',
              1, 3) AS code
  FROM w
)
SELECT code,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words,
       min(word) AS sample_word
FROM c
GROUP BY code
ORDER BY code
""",
)
def q_er_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (simplified-soundex) blocking over part-name head
    words: first letter + the first three consonant-class digits with
    adjacent repeats collapsed and vowel classes stripped — the FOURTH
    blocking strategy in the ER toolkit (edit-distance deletes →
    q_er_symspell_match, sort-order neighborhoods →
    q_er_sorted_neighborhood, probabilistic field weights →
    q_er_fellegi_sunter, sound-alike codes → here), the one that
    catches 'Smith'≈'Smyth' where every string-distance block misses.
    Simplifications vs full Soundex (h/w treated as vowels, no
    first-letter-class dedup) are deliberate and mirrored exactly in
    the oracle — the code is a BLOCKING key, not a phonetics exam.

    Determinism: pure string algebra — translate through a fixed
    26-char class map, per-class regex run-collapses (RE2-safe: no
    backreferences, DuckDB's engine has none), zero-strip, pad — no
    numerics at all.

    Scale shape: per-row projection into a ≤ 26·7³-bounded key space,
    then one map-side-combinable aggregate — the cheapest blocking
    pass of the four (no explode, no window, no join)."""
    part = load_table(spark, sf_dir, "part")
    word = F.element_at(F.split(F.col("p_name"), " "), 1)
    digits = F.translate(
        F.substring(word, 2, 100),
        "abcdefghijklmnopqrstuvwxyz",
        _PHONETIC_MAP,
    )
    # collapse runs per class without regex backreferences — the oracle
    # runs on RE2 (DuckDB), which has none; same cascade both engines
    for dgt in "123456":
        digits = F.regexp_replace(digits, dgt + "{2,}", dgt)
    code = F.concat(
        F.upper(F.substring(word, 1, 1)),
        F.substring(
            F.concat(F.regexp_replace(digits, "0", ""), F.lit("000")), 1, 3
        ),
    )
    return (
        part.select(word.alias("word"), code.alias("code"))
        .groupBy("code")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.countDistinct("word").cast("long").alias("n_distinct_words"),
            F.min("word").alias("sample_word"),
        )
        .orderBy("code")
    )


@query(
    "q_dq_reconciliation",
    oracle="""
WITH det AS (
  SELECT l_orderkey AS k,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS lc
  FROM lineitem GROUP BY l_orderkey
),
rec AS (
  SELECT o.o_orderkey,
         CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS tc,
         det.lc
  FROM orders o LEFT JOIN det ON o.o_orderkey = det.k
),
b AS (
  SELECT CASE
           WHEN lc IS NULL THEN 'missing_detail'
           WHEN tc = lc THEN 'exact'
           WHEN abs(tc - lc) * 100 < tc THEN 'lt_1pct'
           WHEN abs(tc - lc) * 20 < tc THEN 'lt_5pct'
           ELSE 'ge_5pct' END AS bucket,
         tc, COALESCE(lc, 0) AS lc
  FROM rec
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(tc) AS BIGINT) AS header_cents,
       CAST(SUM(lc) AS BIGINT) AS detail_cents,
       CAST(SUM(tc) - SUM(lc) AS BIGINT) AS gap_cents
FROM b
GROUP BY bucket
ORDER BY bucket
""",
)
def q_dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail ledger reconciliation: every order's stated
    total against the recomputed sum of its line items
    (price·(1−disc)·(1+tax)), bucketed into exact ⁄ <1% ⁄ <5% ⁄ ≥5%
    deviation bands plus the orphaned-header lane (orders with no
    detail rows at all) — the month-end close report of any
    finance-grade pipeline, and the two-SOURCE complement of
    q_dq_constraint_suite's single-table rules and
    q_referential_integrity's key-only check (this one reconciles
    AMOUNTS, not just existence).

    Determinism: both sides are integer cents (per-line fixed-point
    BEFORE summing, so the detail side is order-free); deviation bands
    are cross-multiplied integer comparisons (|Δ|·100 < tc ≡ Δ < 1%),
    no division anywhere.

    Scale shape: one map-side-combinable detail rollup, one
    orderkey-equi-join (both sides shuffle on the same key — AQE/
    bucketing makes it co-located at 100 TB), one 5-key aggregate.
    The report never rescans either fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    det = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * (1 - l_discount)"
                " * (1 + l_tax) * 100 + 0.5) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("lc")
    )
    rec = o.select(
        "o_orderkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("tc"),
    ).join(det, F.col("o_orderkey") == F.col("k"), "left")
    bucket = (
        F.when(F.col("lc").isNull(), "missing_detail")
        .when(F.col("tc") == F.col("lc"), "exact")
        .when(F.abs(F.col("tc") - F.col("lc")) * 100 < F.col("tc"), "lt_1pct")
        .when(F.abs(F.col("tc") - F.col("lc")) * 20 < F.col("tc"), "lt_5pct")
        .otherwise("ge_5pct")
    )
    return (
        rec.select(
            bucket.alias("bucket"),
            "tc",
            F.coalesce(F.col("lc"), F.lit(0).cast("long")).alias("lc"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("tc").cast("long").alias("header_cents"),
            F.sum("lc").cast("long").alias("detail_cents"),
            (F.sum("tc") - F.sum("lc")).cast("long").alias("gap_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "q_agg_runs_test",
    oracle="""
WITH s AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM events WHERE event_type = 'click'
  GROUP BY 1
),
sg AS (
  SELECT day,
         CASE WHEN x > lag(x) OVER (ORDER BY day) THEN 1
              WHEN x < lag(x) OVER (ORDER BY day) THEN -1 END AS sgn
  FROM s
),
nz AS (
  SELECT day, sgn,
         lag(sgn) OVER (ORDER BY day) AS prev_sgn
  FROM sg WHERE sgn IS NOT NULL
),
m AS (
  SELECT CAST(SUM(CASE WHEN prev_sgn IS NULL
                        OR sgn <> prev_sgn THEN 1 ELSE 0 END) AS BIGINT)
           AS r,
         CAST(count(CASE WHEN sgn = 1 THEN 1 END) AS BIGINT) AS n1,
         CAST(count(CASE WHEN sgn = -1 THEN 1 END) AS BIGINT) AS n2
  FROM nz
)
SELECT r, n1, n2,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2
              AND 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) > 0
            THEN CAST(FLOOR(
              (CAST(r AS DOUBLE)
               - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
              / sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                     / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                        * (n1 + n2 - 1))) * 1000000 + 0.5) AS BIGINT)
       END AS z_fx
FROM m
""",
)
def q_agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily click-revenue direction
    sequence: count maximal runs of consecutive up/down days (zeros
    dropped), compare against the randomness expectation
    μ = 2n₁n₂⁄(n₁+n₂)+1 — too FEW runs means trending, too many means
    oscillation; the nonparametric randomness check that complements
    q_time_acf (which measures linear dependence only) and feeds the
    'is this KPI actually drifting' triage next to
    q_time_control_chart.

    Determinism: runs/ups/downs are exact integer window counts; the
    z statistic is one double expression over those three integers
    (IEEE sqrt + correctly-rounded arithmetic on identical inputs),
    fixed-pointed ONCE — the q_time_cross_correlation discipline.

    Scale shape: day rollup (corpus pass, map-side combinable), two
    |days|-row lag windows, a 1-row moment table.  The day series is
    calendar-bounded, so the unpartitioned lag windows never grow
    with data volume."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(cents) DIV 100 AS BIGINT)").alias("x"))
    )
    w = Window.orderBy("day")
    sg = s.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(w), 1)
        .when(F.col("x") < F.lag("x").over(w), -1)
        .alias("sgn"),
    )
    nz = sg.filter(F.col("sgn").isNotNull()).select(
        "day", "sgn", F.lag("sgn").over(w).alias("prev_sgn")
    )
    m = nz.agg(
        F.sum(
            F.when(
                F.col("prev_sgn").isNull()
                | (F.col("sgn") != F.col("prev_sgn")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("r"),
        F.count(F.when(F.col("sgn") == 1, 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("sgn") == -1, 1)).cast("long").alias("n2"),
    )
    z = F.when(
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (F.col("n1") + F.col("n2") > 2)
        & (
            2 * F.col("n1") * F.col("n2")
            * (2 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
            > 0
        ),
        F.floor(
            (
                F.col("r").cast("double")
                - (
                    2.0
                    * F.col("n1")
                    * F.col("n2")
                    / (F.col("n1") + F.col("n2"))
                    + 1.0
                )
            )
            / F.sqrt(
                2.0
                * F.col("n1")
                * F.col("n2")
                * (
                    2 * F.col("n1") * F.col("n2")
                    - F.col("n1")
                    - F.col("n2")
                )
                / (
                    (F.col("n1") + F.col("n2")).cast("double")
                    * (F.col("n1") + F.col("n2"))
                    * (F.col("n1") + F.col("n2") - 1)
                )
            )
            * 1000000
            + 0.5
        ).cast("long"),
    )
    return m.select("r", "n1", "n2", z.alias("z_fx"))
