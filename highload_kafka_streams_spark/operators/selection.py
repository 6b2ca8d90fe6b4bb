"""Exact distributed selection (k-th order statistic) & histograms.

``ORDER BY value LIMIT 1 OFFSET k`` funnels a 100 TB column through one
sorting task, and ``percentile(...)`` materializes per-group value
buffers. Exact selection at scale is a *histogram-selection* algorithm
instead (the classic distributed quantile approach, same family as
Spark's own ``approxQuantile`` — but exact):

1. one narrow pass → (count, min, max);
2. one narrow pass → B equi-width bucket counts (tiny, collected to the
   driver — the same aggregated-small-data pattern as the langid
   profiles);
3. locate the bucket holding rank k from the cumulative counts, then
   recurse into just that bucket's value range; when the remaining
   bucket is small (or its range no longer splits, i.e. heavy value
   duplication), extract the k-th element with a bounded sort-limit.

Every pass is a full-scan *aggregation* (map-side combined); nothing is
globally sorted and no executor ever holds more than one bucket's worth
of rows. Multiple ranks (median + p90 below) reuse the same histogram
passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query

N_HIST_BUCKETS = 4096

# Below this many rows the candidate range is extracted with a
# sort-limit instead of recursing; bounds the final task's work.
EXTRACT_THRESHOLD = 200_000

_MAX_DEPTH = 8


def kth_smallest(
    df: DataFrame,
    col: str,
    k: int,
    buckets: int = N_HIST_BUCKETS,
    extract_threshold: int = EXTRACT_THRESHOLD,
) -> float:
    """Exact k-th smallest (1-based) value of ``df[col]`` via iterative
    histogram selection. Values must be non-null."""
    if k < 1:
        raise ValueError(f"rank must be >= 1, got {k}")
    v = F.col(col)
    lo_hi = df.agg(
        F.count(v).alias("n"), F.min(v).alias("lo"), F.max(v).alias("hi")
    ).first()
    n, lo, hi = lo_hi["n"], lo_hi["lo"], lo_hi["hi"]
    if k > n:
        raise ValueError(f"rank {k} > row count {n}")

    scoped, rank = df, k
    for _ in range(_MAX_DEPTH):
        if lo == hi or n <= extract_threshold:
            break
        width = (hi - lo) / buckets
        if width == 0.0:
            # range too narrow to split (e.g. a few subnormal steps):
            # the bucket division would be by zero; extract directly
            break
        # least() clamps value==hi into the last bucket; the SAME
        # expression scopes the recursion filter, so boundary rounding
        # can never lose the target rank between passes.
        bucket = F.least(
            F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(buckets - 1)
        )
        hist = (
            scoped.groupBy(bucket.alias("b"))
            .agg(F.count(v).alias("c"), F.min(v).alias("bmin"),
                 F.max(v).alias("bmax"))
            .orderBy("b")
            .collect()
        )
        cum = 0
        for row in hist:
            if cum + row["c"] >= rank:
                scoped = scoped.filter(bucket == row["b"])
                rank -= cum
                n, lo, hi = row["c"], row["bmin"], row["bmax"]
                break
            cum += row["c"]
    if lo == hi:
        return lo
    # bounded extraction: rank-th of the remaining candidates
    return (
        scoped.select(v.alias("x"))
        .orderBy("x")
        .limit(rank)
        .agg(F.max("x"))
        .first()[0]
    )


@query(
    "q_select_exact_quantiles",
    oracle="""
WITH o AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rn FROM events
),
n AS (SELECT count(*) AS n_rows FROM events)
SELECT n.n_rows,
       (SELECT value FROM o WHERE rn = (n.n_rows + 1) // 2) AS median,
       (SELECT value FROM o
         WHERE rn = (9 * n.n_rows + 9) // 10) AS p90
FROM n
""",
)
def q_select_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median and p90 of ``events.value`` by histogram selection —
    no global sort, no per-group value buffers; the oracle states the
    semantics as a rank lookup over the totally-ordered column. The
    outputs are exact data elements (no arithmetic), so they hash-match
    bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    n = e.count()
    med = kth_smallest(e, "value", (n + 1) // 2)
    p90 = kth_smallest(e, "value", (9 * n + 9) // 10)
    return spark.createDataFrame(
        [(n, float(med), float(p90))], "n_rows bigint, median double, p90 double"
    )


@query(
    "q_agg_histogram",
    oracle="""
SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
       count(*) AS n,
       min(value) AS lo,
       max(value) AS hi
FROM events
GROUP BY 1
ORDER BY bucket
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (width 50) — the one-pass,
    map-side-combined shape of the selection algorithm's inner loop."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("bucket")
    )


ACCURACY = 1000  # approx_percentile: rank error <= n / ACCURACY


@query(
    "q_select_approx_invariant",
    oracle="""
SELECT count(*) AS n_rows,
       TRUE AS median_in_bound,
       TRUE AS p90_in_bound
FROM events
""",
)
def q_select_approx_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable guarantee for the approximate path: Spark's
    ``percentile_approx`` (KLL/GK-style sketch — the 100 TB quantile
    answer when exactness isn't required) must return an element whose
    RANK INTERVAL [#(<x)+1, #(<=x)] comes within n/ACCURACY of the
    target rank. The oracle pins the booleans TRUE, so a sketch
    regression on either engine breaks hash parity (same invariant
    pattern as the HLL mergeability and 10%-ACD checks). The rank
    lookup reuses one full-scan aggregation per quantile — no sort."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    row = e.agg(
        F.count(v).alias("n"),
        F.percentile_approx(v, 0.5, ACCURACY).alias("amed"),
        F.percentile_approx(v, 0.9, ACCURACY).alias("ap90"),
    ).first()
    n, amed, ap90 = row["n"], row["amed"], row["ap90"]
    tol = n // ACCURACY + 1

    def rank_in_bound(x: float, k: int) -> bool:
        r = e.agg(
            F.sum(F.when(v < x, 1).otherwise(0)).alias("lt"),
            F.sum(F.when(v <= x, 1).otherwise(0)).alias("le"),
        ).first()
        return r["lt"] + 1 <= k + tol and r["le"] >= k - tol

    med_ok = rank_in_bound(amed, (n + 1) // 2)
    p90_ok = rank_in_bound(ap90, (9 * n + 9) // 10)
    return spark.createDataFrame(
        [(n, bool(med_ok), bool(p90_ok))],
        "n_rows bigint, median_in_bound boolean, p90_in_bound boolean",
    )


GROUPED_BUCKETS = 1024


def grouped_kth_smallest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rank_of_n,
    buckets: int = GROUPED_BUCKETS,
    max_iter: int = 10,
    max_groups: int = 100_000,
) -> list[tuple]:
    """Exact per-group k-th smallest of an INTEGER column for EVERY
    group simultaneously — the grouped form of ``kth_smallest`` and
    the implemented escape hatch the exact-percentile docstrings
    (weighted median, MAD, RFM) point at: no per-group value buffer,
    no per-group sort; each refinement round is ONE map-side-combined
    aggregation over all still-unresolved groups at once.

    ``rank_of_n``: callable n → k (1-based), e.g. ``lambda n: (n+1)//2``
    for the lower median. Returns [(group, n, k, kth_value)] sorted by
    group. Driver state is one (lo, hi, k) triple per group plus a
    ≤ |groups|·buckets histogram per round — the operator for FEW BIG
    groups (the exact regime where value-buffering percentile
    explodes); |groups| must fit the driver like any grouped result
    a user collects — enforced by ``max_groups`` (default 100k ≈ a few
    MB of driver state), which raises instead of accumulating unbounded
    driver state. For HIGH-cardinality group columns use the
    domain-bounded histogram strategy instead
    (``q_latency_histogram_quantiles``: one groupBy over a bounded
    value domain, no driver loop).

    NULL group keys participate like any other group (the bounds join
    is null-safe).

    Integer domain ⇒ exact termination: bucket width
    ``(hi−lo)//B + 1`` shrinks ≥ B× per round until lo == hi, and
    narrowing to the observed per-bucket (min, max) skips empty range.
    """
    g, v = F.col(group_col), F.col(value_col)
    init = (
        df.groupBy(g.alias("_g"))
        .agg(F.count(v).alias("n"), F.min(v).alias("lo"), F.max(v).alias("hi"))
        .collect()
    )
    if len(init) > max_groups:
        raise ValueError(
            f"grouped_kth_smallest holds one (lo, hi, k) triple per group "
            f"on the driver; got {len(init)} groups > max_groups="
            f"{max_groups}. For high-cardinality grouping use the "
            f"domain-bounded histogram strategy "
            f"(see q_latency_histogram_quantiles) or raise max_groups "
            f"explicitly if the driver can hold it."
        )
    state = {
        r["_g"]: {"n": r["n"], "k": rank_of_n(r["n"]), "lo": r["lo"], "hi": r["hi"]}
        for r in init
    }
    for _ in range(max_iter):
        open_groups = {gr: s for gr, s in state.items() if s["lo"] < s["hi"]}
        if not open_groups:
            break
        spark = df.sparkSession
        # explicit schema (group type taken from the input): a round
        # whose only open group has a NULL key must not hit inference
        from pyspark.sql.types import LongType, StructField, StructType

        g_type = df.schema[group_col].dataType
        bounds = spark.createDataFrame(
            [
                (gr, s["lo"], s["hi"], (s["hi"] - s["lo"]) // buckets + 1)
                for gr, s in open_groups.items()
            ],
            StructType(
                [
                    StructField("_bg", g_type),
                    StructField("_lo", LongType()),
                    StructField("_hi", LongType()),
                    StructField("_w", LongType()),
                ]
            ),
        )
        bucket = F.least(
            F.floor((v - F.col("_lo")) / F.col("_w")).cast("long"),
            F.lit(buckets - 1),
        )
        hist = (
            df.join(F.broadcast(bounds), g.eqNullSafe(F.col("_bg")))
            # k is relative to the current bracket: rows outside
            # [lo, hi] were already discounted when the bracket
            # narrowed, so they must not re-enter the histogram
            .filter((v >= F.col("_lo")) & (v <= F.col("_hi")))
            .groupBy(F.col("_bg").alias("_g"), bucket.alias("_b"))
            .agg(
                F.count(v).alias("c"),
                F.min(v).alias("bmin"),
                F.max(v).alias("bmax"),
            )
            .collect()
        )
        per_group: dict = {}
        for row in hist:
            per_group.setdefault(row["_g"], []).append(row)
        for gr, rows in per_group.items():
            s = state[gr]
            cum = 0
            for row in sorted(rows, key=lambda r: r["_b"]):
                if cum + row["c"] >= s["k"]:
                    s["k"] -= cum
                    s["n"] = row["c"]
                    s["lo"], s["hi"] = row["bmin"], row["bmax"]
                    break
                cum += row["c"]
    totals = {r["_g"]: r["n"] for r in init}
    out = []
    # sorted() with a NULL (None) group key present: order None first so
    # the output order stays deterministic without comparing None to str
    for gr in sorted(state, key=lambda x: (x is not None, x)):
        s = state[gr]
        if s["lo"] != s["hi"]:
            # not an assert: the resolved-bracket invariant must hold
            # under `python -O` too — an unresolved bracket returning a
            # wrong "exact" value would be silent data corruption
            raise RuntimeError(
                f"grouped_kth_smallest: group {gr!r} unresolved after "
                f"{max_iter} refinement rounds (bracket [{s['lo']}, "
                f"{s['hi']}]); raise max_iter or buckets"
            )
        out.append((gr, totals[gr], rank_of_n(totals[gr]), s["lo"]))
    return out


@query(
    "q_select_grouped_median",
    oracle="""
WITH f AS (
  SELECT event_type,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v
  FROM events
),
r AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM f
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST((n + 1) // 2 AS BIGINT) AS k,
       v AS median_fp,
       v / 10000.0 AS median_lower
FROM r WHERE rn = (n + 1) // 2
ORDER BY event_type
""",
)
def q_select_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT (lower) median via grouped histogram selection —
    all groups refined simultaneously, ~4 aggregation passes total,
    nothing sorted, no group's values ever buffered (contrast
    `percentile`, which holds each group's column in the agg state).
    Values are fixed-point BIGINTs so every rank is an exact integer
    lookup; the oracle states the same semantics as a rank-k pick over
    the per-group order. This is the implemented form of the scale
    path the weighted-median/MAD/RFM docstrings reference."""
    ev = load_table(spark, sf_dir, "events")
    fx = ev.select(
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    rows = grouped_kth_smallest(
        fx, "event_type", "v", rank_of_n=lambda n: (n + 1) // 2
    )
    out = spark.createDataFrame(
        [(g, n, k, kv) for (g, n, k, kv) in rows],
        "event_type string, n long, k long, median_fp long",
    )
    return out.select(
        "event_type",
        "n",
        "k",
        "median_fp",
        (F.col("median_fp") / 10000.0).alias("median_lower"),
    ).orderBy("event_type")
