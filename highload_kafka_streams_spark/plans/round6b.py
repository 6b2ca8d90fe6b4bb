"""Round-6 continuation — ledger matching, classical ANOVA, data-quality
dependency auditing, and link-analysis (HITS) shapes.

House rules apply (SURVEY.md §5 hazards): every value that reaches the
driver's hash is exact BIGINT arithmetic or one deterministic
fixed-point step; integer division is `//`/`DIV` (both truncate toward
zero — verified safe for the all-positive operands used here); LIMIT
always rides a total deterministic order; DuckDB BIGINT sums are
re-CAST because SUM(BIGINT) widens to HUGEINT there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# FIFO matching: cumulative-quantity intervals are bucketed into
# fixed-width blocks so the pairing join is an equi-join on
# (partkey, block) — never a per-part cross join. Quantities are
# 1..50, so one interval spans at most ceil(50 / 64) + 1 = 2 blocks.
_FIFO_BLOCK = 64


@query(
    "q_alloc_fifo_inventory",
    oracle=f"""
WITH supply AS (
  SELECT l_partkey,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS hi
  FROM lineitem WHERE l_linestatus = 'F' AND l_quantity > 0
),
s AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM supply),
demand AS (
  SELECT l_partkey,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS hi
  FROM lineitem WHERE l_linestatus = 'O' AND l_quantity > 0
),
d AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM demand),
matched AS (
  SELECT s.l_partkey,
         LEAST(s.hi, d.hi) - GREATEST(s.lo, d.lo) AS m
  FROM s JOIN d ON s.l_partkey = d.l_partkey
   AND s.lo < d.hi AND d.lo < s.hi
),
per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(m) AS BIGINT) AS matched_qty
  FROM matched GROUP BY l_partkey
),
dem_tot AS (
  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS demand_qty
  FROM d GROUP BY l_partkey
)
SELECT p.p_brand AS brand,
       CAST(SUM(COALESCE(pp.n_pairs, 0)) AS BIGINT) AS n_pairs,
       CAST(SUM(COALESCE(pp.matched_qty, 0)) AS BIGINT) AS matched_qty,
       CAST(SUM(dt.demand_qty) AS BIGINT) AS demand_qty,
       CAST(SUM(dt.demand_qty) - SUM(COALESCE(pp.matched_qty, 0))
            AS BIGINT) AS unfilled_qty
FROM dem_tot dt
LEFT JOIN per_part pp ON pp.l_partkey = dt.l_partkey
JOIN part p ON p.p_partkey = dt.l_partkey
GROUP BY p.p_brand
ORDER BY brand
""",
)
def q_alloc_fifo_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — the classic inventory / tax-lot ledger
    operator: per part, finished lines ('F', ordered by ship date) form
    supply lots, open lines ('O') form demand, and each demand draws
    from supply strictly first-in-first-out. The FIFO recurrence is
    reframed as pure relational algebra via the cumulative-interval
    identity: lot i occupies cumulative-quantity interval
    [hi−qty, hi) and demand j likewise; the FIFO-matched quantity
    between them is exactly the overlap length of the two intervals,
    so the whole allocation is one overlap join over prefix sums — no
    per-row loop, no recursion.

    Determinism: quantities are integer-valued doubles cast to BIGINT
    before the prefix sum (exact), the ordering key
    (shipdate, orderkey, linenumber) is unique, and every output is an
    integer.

    Scale shape: the prefix sums are per-part windows (hash exchange on
    partkey, no global sort). The pairing join is NOT the naive
    per-part overlap theta-join: both interval sets are exploded into
    fixed-width cumulative blocks (width 64 ≥ max qty 50, so each
    interval spans ≤ 2 blocks) and the join is an equi-join on
    (partkey, block) with the exact overlap predicate as a residual
    filter — the q_join_range_bucketed recipe transplanted to the
    cumulative axis, so a part with a million lots pairs each lot with
    O(1) candidates instead of O(n). The quadratic overlap join exists
    only in the DuckDB oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    # r12 NEGATIVE RESULT (measured, reverted): fusing supply and demand
    # into ONE window pass — partitionBy(l_partkey),
    # orderBy(l_linestatus, ...), per-status conditional running sums,
    # one shared persisted base — was oracle-identical but ~1.25×
    # SLOWER in two A/B windows (old 2.52/4.16 s vs fused 3.28/5.14 s,
    # set-cover control): at this shape the saved second scan + window
    # sort is cheaper than materializing and re-reading the 2× cache,
    # and the AQE-wrapped InMemoryRelation hides its partitioning, so
    # per_part re-exchanges what the uncached supply window used to
    # deliver pre-clustered. The two per-status windows stay.
    def lots(status: str) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            li.filter(
                (F.col("l_linestatus") == status) & (F.col("l_quantity") > 0)
            )
            .select(
                "l_partkey",
                "l_shipdate",
                "l_orderkey",
                "l_linenumber",
                F.col("l_quantity").cast("long").alias("qty"),
            )
            .select(
                "l_partkey",
                "qty",
                F.sum("qty").over(w).alias("hi"),
            )
            .select(
                "l_partkey",
                "qty",
                "hi",
                (F.col("hi") - F.col("qty")).alias("lo"),
            )
        )

    def blocked(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("lo_b", F.expr(f"lo DIV {_FIFO_BLOCK}"))
            .withColumn("hi_b", F.expr(f"(hi - 1) DIV {_FIFO_BLOCK}"))
            .withColumn("blk", F.explode(F.sequence("lo_b", "hi_b")))
        )

    # demand feeds the blocked join AND the demand-total rollup; scoped
    # so the cache is released when the next query builds (r11 item 7)
    d_base = scoped_persist(lots("O"))
    s = blocked(lots("F"))
    dm = blocked(d_base)
    sa, da = s.alias("s"), dm.alias("d")
    # r12: the old .distinct() (a full-width exchange) deduplicated
    # overlaps that span a block boundary and therefore pair in two
    # blocks; keeping each pair only in its CANONICAL block — the first
    # block both intervals occupy, greatest(s.lo_b, d.lo_b) (the
    # overlapping pair guarantees both intervals reach that block) —
    # dedupes with a pure residual predicate instead.
    matched = sa.join(
        da,
        (F.col("s.l_partkey") == F.col("d.l_partkey"))
        & (F.col("s.blk") == F.col("d.blk"))
        & (F.col("s.lo") < F.col("d.hi"))
        & (F.col("d.lo") < F.col("s.hi"))
        & (F.col("s.blk") == F.greatest(F.col("s.lo_b"), F.col("d.lo_b"))),
    ).select(
        F.col("s.l_partkey").alias("l_partkey"),
        (
            F.least(F.col("s.hi"), F.col("d.hi"))
            - F.greatest(F.col("s.lo"), F.col("d.lo"))
        ).alias("m"),
    )
    per_part = matched.groupBy("l_partkey").agg(
        F.count("*").alias("n_pairs"), F.sum("m").alias("matched_qty")
    )
    dem_tot = d_base.groupBy("l_partkey").agg(
        F.sum("qty").alias("demand_qty")
    )
    return (
        dem_tot.join(per_part, "l_partkey", "left")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.coalesce("n_pairs", F.lit(0))).alias("n_pairs"),
            F.sum(F.coalesce("matched_qty", F.lit(0))).alias("matched_qty"),
            F.sum("demand_qty").alias("demand_qty"),
            (
                F.sum("demand_qty")
                - F.sum(F.coalesce("matched_qty", F.lit(0)))
            ).alias("unfilled_qty"),
        )
        .orderBy("brand")
    )


@query(
    "q_agg_anova_f",
    oracle="""
WITH base AS (
  SELECT CAST(date_part('year', l_shipdate) * 100
              + date_part('month', l_shipdate) AS BIGINT) AS ym,
         l_returnflag AS grp,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
per_g AS (
  SELECT ym, grp,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(q) AS BIGINT) AS t_g
  FROM base GROUP BY ym, grp
),
per_m AS (
  SELECT ym,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT grp) AS BIGINT) AS k,
         CAST(SUM(q) AS BIGINT) AS t,
         CAST(SUM(q * q) AS BIGINT) AS sq
  FROM base GROUP BY ym
),
ssb AS (
  SELECT g.ym,
         CAST(SUM((g.t_g * g.t_g * 1000000) // g.n_g) AS BIGINT) AS between_raw
  FROM per_g g GROUP BY g.ym
),
joined AS (
  SELECT m.ym, m.n, m.k,
         b.between_raw - (m.t * m.t * 1000000) // m.n AS ssb_fx,
         m.sq * 1000000 - (m.t * m.t * 1000000) // m.n AS sstot_fx
  FROM per_m m JOIN ssb b ON m.ym = b.ym
)
SELECT ym, n, k,
       ssb_fx,
       sstot_fx - ssb_fx AS ssw_fx,
       CASE WHEN k > 1 AND n > k
                 AND (sstot_fx - ssb_fx) // (n - k) > 0
            THEN ((ssb_fx // (k - 1)) * 10000)
                 // ((sstot_fx - ssb_fx) // (n - k))
            ELSE NULL END AS f_fx
FROM joined
ORDER BY ym
""",
)
def q_agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order quantity across return-flag
    classes, one test per ship month — the parametric counterpart of
    q_agg_kruskal_wallis (rank-based) and q_agg_welch_ttest
    (two-sample). Uses the computational identity
    SS_between = Σ_g T_g²/n_g − T²/N and
    SS_total = ΣX² − T²/N so the whole test is four integer sums per
    group — no mean subtraction, no variance pass.

    Determinism: quantities are integer-valued; the only divisions are
    integer `//` at fixed-point scale 1e6 (per-class terms) and the
    final 1e4-scaled F ratio — all operands positive, and Spark `DIV`
    and DuckDB `//` both truncate toward zero, so the engines agree
    bit-for-bit. F is computed mean-square-first
    ((SSB//(k−1)) · 1e4 // (SSW//(N−k))) so no intermediate exceeds
    ssb_fx·1e4 — the naive SSB·(N−k)·1e4 form can overflow int64 at
    large N.

    Scale shape: two groupBy passes (class-level then month-level) with
    map-side partial aggregation; the month-level join is
    month-cardinality-sized (bounded by the calendar, not the data), so
    the whole test runs in one shuffle round over the fact table at any
    scale. Per-month sums stay far inside int64: T ≤ n·50 so
    T²·1e6 < 9.2e18 up to n ≈ 60M rows per month; beyond that drop the
    fixed-point scale (compat.py's documented knob)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ym"),
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    per_g = base.groupBy("ym", "grp").agg(
        F.count("*").alias("n_g"), F.sum("q").alias("t_g")
    )
    per_m = base.groupBy("ym").agg(
        F.count("*").alias("n"),
        F.countDistinct("grp").alias("k"),
        F.sum("q").alias("t"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    ssb = per_g.groupBy("ym").agg(
        F.sum(
            F.expr("t_g * t_g * 1000000 DIV n_g")
        ).alias("between_raw")
    )
    joined = per_m.join(ssb, "ym").select(
        "ym",
        "n",
        "k",
        F.expr(
            "between_raw - (t * t * 1000000) DIV n"
        ).alias("ssb_fx"),
        F.expr(
            "sq * 1000000 - (t * t * 1000000) DIV n"
        ).alias("sstot_fx"),
    )
    return joined.select(
        "ym",
        "n",
        "k",
        "ssb_fx",
        (F.col("sstot_fx") - F.col("ssb_fx")).alias("ssw_fx"),
        F.expr(
            "CASE WHEN k > 1 AND n > k "
            "AND (sstot_fx - ssb_fx) DIV (n - k) > 0 "
            "THEN ((ssb_fx DIV (k - 1)) * 10000) "
            "DIV ((sstot_fx - ssb_fx) DIV (n - k)) "
            "ELSE NULL END"
        ).alias("f_fx"),
    ).orderBy("ym")


# Candidate functional dependencies audited by q_dq_functional_dependency.
# (name, table, determinant, dependent) — a mix of true keys (must hold),
# near-FDs, and deliberately-violated pairs so the audit exercises every
# verdict lane.
_FD_CANDIDATES = (
    ("orders.o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
    ("lineitem.l_orderkey->l_linestatus", "lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
)


def _fd_oracle() -> str:
    parts = []
    for name, tbl, det, dep in _FD_CANDIDATES:
        parts.append(
            f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_determinants,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(SUM(CASE WHEN n_dep > 1 THEN n_rows ELSE 0 END) AS BIGINT)
         AS violating_rows,
       CAST(max(n_dep) AS BIGINT) AS max_branching,
       max(n_dep) = 1 AS holds
FROM (
  SELECT {det} AS det,
         count(DISTINCT {dep}) AS n_dep,
         count(*) AS n_rows
  FROM {tbl} GROUP BY {det}
)"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY fd"


@query("q_dq_functional_dependency", oracle=_fd_oracle())
def q_dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — for each candidate FD `det → dep`
    report how many determinant values exist, how many branch to more
    than one dependent value (FD violations), how many underlying rows
    sit in violating groups, the worst branching factor, and the
    verdict. The candidate set mixes a true key FD
    (o_orderkey → o_orderstatus, must hold), two near-FDs on lineitem,
    and a deliberately-violated behavioral pair
    (user_id → event_type) so every verdict lane is exercised — the
    profiling shape every schema-discovery / DQ tool (and the
    reference's constraint checking) is built from, alongside
    q_dq_constraint_suite (row predicates) and q_referential_audit
    (cross-table keys).

    Scale shape: one groupBy per candidate over (det) with
    count(DISTINCT dep) — Catalyst expands to the standard two-phase
    distinct aggregate with map-side partials, then each audit reduces
    to ONE summary row before the union, so the combined result is
    candidate-count-sized. No joins, no windows; each pass is a single
    shuffle on the determinant at any scale."""
    outs = []
    for name, tbl, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        g = t.groupBy(F.col(det).alias("det")).agg(
            F.countDistinct(dep).alias("n_dep"),
            F.count("*").alias("n_rows"),
        )
        outs.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count("*").alias("n_determinants"),
                F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0)).alias(
                    "n_violating"
                ),
                F.sum(
                    F.when(F.col("n_dep") > 1, F.col("n_rows")).otherwise(0)
                ).alias("violating_rows"),
                F.max("n_dep").alias("max_branching"),
                (F.max("n_dep") == 1).alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("fd")


_HITS_ONE = 1_000_000  # fixed-point unit for hub/authority scores


@query(
    "q_graph_hits",
    oracle=f"""
WITH w AS (
  SELECT user_id AS u, event_type AS e,
         CAST(count(*) AS BIGINT) AS w
  FROM events GROUP BY user_id, event_type
),
a1r AS (
  SELECT e, CAST(SUM(w * {_HITS_ONE}) AS BIGINT) AS a FROM w GROUP BY e
),
a1 AS (
  SELECT e, (a * {_HITS_ONE}) // (SELECT max(a) FROM a1r) AS a FROM a1r
),
h1r AS (
  SELECT w.u, CAST(SUM(w.w * a1.a) AS BIGINT) AS h
  FROM w JOIN a1 ON w.e = a1.e GROUP BY w.u
),
h1 AS (
  SELECT u, (h * {_HITS_ONE}) // (SELECT max(h) FROM h1r) AS h FROM h1r
),
a2r AS (
  SELECT w.e, CAST(SUM(w.w * h1.h) AS BIGINT) AS a
  FROM w JOIN h1 ON w.u = h1.u GROUP BY w.e
),
a2 AS (
  SELECT e, (a * {_HITS_ONE}) // (SELECT max(a) FROM a2r) AS a FROM a2r
),
deg AS (
  SELECT e, CAST(count(*) AS BIGINT) AS n_users FROM w GROUP BY e
)
SELECT a2.e AS event_type,
       CAST(a1.a AS BIGINT) AS auth1_fx,
       CAST(a2.a AS BIGINT) AS auth2_fx,
       deg.n_users
FROM a2 JOIN a1 ON a1.e = a2.e JOIN deg ON deg.e = a2.e
ORDER BY auth2_fx DESC, event_type
""",
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) over the weighted user → event-type
    bipartite graph, two unrolled iterations in max-normalized
    fixed-point — the link-analysis counterpart of q_graph_pagerank_fx
    (eigenvector centrality on a different operator: A^T A instead of
    the stochastic walk). Users act as hubs, event types as
    authorities; edge weight = interaction count. Each half-step is
    auth(e) = Σ_u w·hub(u) / hub(u) = Σ_e w·auth(e), renormalized by
    the maximum so scores stay in [0, 1e6] as exact integers.

    Determinism: weights and scores are BIGINT throughout; the only
    division is `//` by the per-iteration maximum (positive), identical
    in both engines. Reporting auth1 AND auth2 pins the whole
    trajectory, not just the fixpoint.

    Scale shape: each half-step is one groupBy over the edge list
    (map-side combine) plus a join against the previous score table —
    and the score tables are ENTITY-sized, not edge-sized. The
    normalizing max is a 1-row aggregate crossed back in (broadcast of
    one row). The event-type side is bounded (authority table is tiny);
    the user-side join in a2 is edges ⋈ users on the edge's natural
    key — a shuffle join on user_id at 100 TB, never a broadcast of the
    user table (the q_graph_pagerank_fx de-weak lesson: no
    corpus-proportional broadcast hints)."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("e")
    ).agg(F.count("*").alias("w"))
    w = scoped_persist(w)

    def norm(df: DataFrame, col: str) -> DataFrame:
        mx = df.agg(F.max(col).alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            *[c for c in df.columns if c != col],
            F.expr(f"({col} * {_HITS_ONE}) DIV mx").alias(col),
        )

    a1r = w.groupBy("e").agg(
        F.sum(F.col("w") * _HITS_ONE).alias("a")
    )
    # persist the per-half-step score tables: a1 feeds BOTH h1r and the
    # final readout join, h1 feeds a2r — without the cache each
    # reference re-inlines the whole upstream subtree (measured: the
    # r11 before-plan carried 102 Exchange nodes, 52 scans of the
    # cached edge table; with a1/h1 cached it is one linear chain).
    # Score tables are entity-sized (event types / users), the same
    # bounded state every iterative-rank loop persists.
    a1 = scoped_persist(norm(a1r, "a"))
    h1r = (
        w.join(a1.withColumnRenamed("a", "a1"), "e")
        .groupBy("u")
        .agg(F.sum(F.col("w") * F.col("a1")).alias("h"))
    )
    h1 = scoped_persist(norm(h1r, "h"))
    a2r = (
        w.join(h1, "u")
        .groupBy("e")
        .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
    )
    a2 = norm(a2r, "a")
    deg = w.groupBy("e").agg(F.count("*").alias("n_users"))
    return (
        a2.withColumnRenamed("a", "auth2_fx")
        .join(a1.withColumnRenamed("a", "auth1_fx"), "e")
        .join(deg, "e")
        .select(
            F.col("e").alias("event_type"),
            "auth1_fx",
            "auth2_fx",
            "n_users",
        )
        .orderBy(F.desc("auth2_fx"), "event_type")
    )


@query(
    "q_pattern_v_shape",
    oracle="""
WITH daily AS (
  SELECT c.c_mktsegment AS seg, date_trunc('day', o.o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY seg, d
),
diffed AS (
  SELECT seg, d, v,
         v - lag(v) OVER (PARTITION BY seg ORDER BY d) AS dv
  FROM daily
),
signed AS (
  SELECT seg, d, v,
         CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END AS s
  FROM diffed WHERE dv IS NOT NULL
),
rid AS (
  SELECT seg, d, v, s,
         CAST(SUM(CASE WHEN ps IS NULL OR s <> ps THEN 1 ELSE 0 END)
           OVER (PARTITION BY seg ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS rid
  FROM (SELECT seg, d, v, s,
               lag(s) OVER (PARTITION BY seg ORDER BY d) AS ps
        FROM signed)
),
runs AS (
  SELECT seg, rid, min(s) AS s, CAST(count(*) AS BIGINT) AS len,
         max_by(v, d) AS v_end
  FROM rid GROUP BY seg, rid
),
ctx AS (
  SELECT seg, rid, s, len, v_end,
         lag(s)     OVER (PARTITION BY seg ORDER BY rid) AS prev_s,
         lag(v_end) OVER (PARTITION BY seg ORDER BY rid) AS prev_end,
         lag(v_end, 2) OVER (PARTITION BY seg ORDER BY rid) AS prev2_end
  FROM runs
),
vs AS (
  SELECT seg,
         LEAST(prev2_end - prev_end, v_end - prev_end) AS depth
  FROM ctx
  WHERE s = 1 AND prev_s = -1 AND prev2_end IS NOT NULL
)
SELECT r.seg,
       CAST(count(DISTINCT r.rid) AS BIGINT) AS n_runs,
       CAST(COALESCE(max(r.len) FILTER (WHERE r.s = -1), 0) AS BIGINT)
         AS longest_down_run,
       CAST((SELECT count(*) FROM vs WHERE vs.seg = r.seg) AS BIGINT)
         AS n_v_patterns,
       CAST((SELECT COALESCE(max(depth), 0) FROM vs WHERE vs.seg = r.seg)
         AS BIGINT) AS max_v_depth_c,
       CAST((SELECT COALESCE(CAST(SUM(depth) AS BIGINT), 0)
             FROM vs WHERE vs.seg = r.seg) AS BIGINT) AS sum_v_depth_c
FROM runs r
GROUP BY r.seg
ORDER BY r.seg
""",
)
def q_pattern_v_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-pattern detection over a series — count V patterns
    (a strictly-falling run immediately followed by a strictly-rising
    run) in daily revenue per market segment, with the recovery depth
    min(drop, rise) of each V. This is the MATCH_RECOGNIZE /
    ``PATTERN (DOWN+ UP+)`` shape, compiled to the gaps-and-islands
    recipe: sign of the day-over-day diff → run ids by counting sign
    changes → one row per run → lag twice over the run table to see
    (run, its predecessor, the peak before that). Complements
    q_pattern_sequence (element-sequence CEP) with structural/shape
    matching.

    Determinism: revenue is exact fixed-point cents; signs and depths
    are BIGINT comparisons; every window orders by the unique (seg,
    day) / (seg, rid) keys.

    Scale shape: the series is day × segment grain — calendar-bounded,
    so the per-segment windows are bounded regardless of fact volume;
    all corpus-proportional work is the one groupBy producing the
    daily rollup (map-side combinable, one shuffle). The run table is
    strictly smaller than the day table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("day", "o_orderdate").alias("d"),
            F.expr(
                "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("seg", "d")
        .agg(F.sum("cents").alias("v"))
    )
    wd = Window.partitionBy("seg").orderBy("d")
    diffed = daily.withColumn("dv", F.col("v") - F.lag("v").over(wd))
    signed = diffed.filter(F.col("dv").isNotNull()).withColumn(
        "s",
        F.when(F.col("dv") > 0, 1).when(F.col("dv") < 0, -1).otherwise(0),
    )
    rid = (
        signed.withColumn("ps", F.lag("s").over(wd))
        .withColumn(
            "chg",
            F.when(
                F.col("ps").isNull() | (F.col("s") != F.col("ps")), 1
            ).otherwise(0),
        )
        .withColumn(
            "rid",
            F.sum("chg")
            .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    runs = rid.groupBy("seg", "rid").agg(
        F.min("s").alias("s"),
        F.count("*").alias("len"),
        F.expr("max_by(v, d)").alias("v_end"),
    )
    wr = Window.partitionBy("seg").orderBy("rid")
    ctx = (
        runs.withColumn("prev_s", F.lag("s").over(wr))
        .withColumn("prev_end", F.lag("v_end").over(wr))
        .withColumn("prev2_end", F.lag("v_end", 2).over(wr))
    )
    vs = ctx.filter(
        (F.col("s") == 1)
        & (F.col("prev_s") == -1)
        & F.col("prev2_end").isNotNull()
    ).select(
        "seg",
        F.least(
            F.col("prev2_end") - F.col("prev_end"),
            F.col("v_end") - F.col("prev_end"),
        ).alias("depth"),
    )
    per_seg_runs = runs.groupBy("seg").agg(
        F.countDistinct("rid").alias("n_runs"),
        F.coalesce(
            F.max(F.when(F.col("s") == -1, F.col("len"))), F.lit(0)
        ).alias("longest_down_run"),
    )
    per_seg_vs = vs.groupBy("seg").agg(
        F.count("*").alias("n_v_patterns"),
        F.max("depth").alias("max_v_depth_c"),
        F.sum("depth").alias("sum_v_depth_c"),
    )
    return (
        per_seg_runs.join(per_seg_vs, "seg", "left")
        .select(
            "seg",
            "n_runs",
            "longest_down_run",
            F.coalesce("n_v_patterns", F.lit(0)).alias("n_v_patterns"),
            F.coalesce("max_v_depth_c", F.lit(0)).alias("max_v_depth_c"),
            F.coalesce("sum_v_depth_c", F.lit(0)).alias("sum_v_depth_c"),
        )
        .orderBy("seg")
    )


# Page-Hinkley parameters: train on the first _PH_TRAIN days, drift
# margin δ = μ/50 (2%), alarm threshold λ = μ/4.
_PH_TRAIN = 14


@query(
    "q_time_page_hinkley",
    oracle=f"""
WITH s AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM events WHERE event_type = 'click'
  GROUP BY day
),
r AS (
  SELECT day, x,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
  FROM s
),
mu AS (
  SELECT CAST(SUM(x) // {_PH_TRAIN} AS BIGINT) AS mu
  FROM r WHERE rn <= {_PH_TRAIN}
),
test AS (
  SELECT r.day, r.x, mu.mu,
         CAST(SUM(r.x - mu.mu - mu.mu // 50) OVER (
           ORDER BY r.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM r, mu WHERE r.rn > {_PH_TRAIN}
),
ph AS (
  SELECT day, x, mu, cum,
         cum - min(cum) OVER (
           ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS ph
  FROM test
)
SELECT day, x, cum, ph, ph >= mu // 4 AS alarm
FROM ph ORDER BY day
""",
)
def q_time_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley sequential drift detector over daily click revenue:
    train a reference mean μ on the first 14 days, then track
    PH_t = Σ(x_i − μ − δ) − min-so-far of that cumulative sum and
    alarm when PH_t ≥ λ (δ = μ/50, λ = μ/4). A genuinely different
    decision rule from q_time_control_chart (pointwise I-MR limits)
    and q_anomaly_cusum: PH accumulates small sustained shifts that
    never breach a pointwise limit — the standard change-detector for
    concept drift in streaming ML.

    Determinism: all integer — cents are fixed-point, μ and the
    thresholds are integer divisions (positive operands), the
    cumulative sum and running minimum are exact BIGINT windows keyed
    by the unique day.

    Scale shape: the only corpus-proportional pass is the per-day
    rollup (map-side combine, one shuffle); everything after runs on
    the calendar-bounded day series, and μ joins back as a broadcast
    1-row table."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(c) DIV 100 AS BIGINT)").alias("x"))
    )
    wd = Window.orderBy("day")
    r = s.withColumn("rn", F.row_number().over(wd).cast("long"))
    mu = r.filter(F.col("rn") <= _PH_TRAIN).agg(
        F.expr(f"CAST(SUM(x) DIV {_PH_TRAIN} AS BIGINT)").alias("mu")
    )
    test = (
        r.filter(F.col("rn") > _PH_TRAIN)
        .crossJoin(F.broadcast(mu))
        .withColumn(
            "cum",
            F.sum(F.expr("x - mu - mu DIV 50"))
            .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    ph = test.withColumn(
        "ph",
        F.col("cum")
        - F.min("cum").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return ph.select(
        "day",
        "x",
        "cum",
        "ph",
        F.expr("ph >= mu DIV 4").alias("alarm"),
    ).orderBy("day")


@query(
    "q_eval_lift_gains",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
           AS score,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM events GROUP BY user_id
),
tiled AS (
  SELECT user_id, score, pos,
         CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT)
           AS decile
  FROM per_user
),
per_decile AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM tiled GROUP BY decile
),
tot AS (
  SELECT CAST(SUM(n_users) AS BIGINT) AS big_n,
         CAST(SUM(n_pos) AS BIGINT) AS big_p
  FROM per_decile
)
SELECT d.decile, d.n_users, d.n_pos,
       CAST(SUM(d.n_pos) OVER (
         ORDER BY d.decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_pos,
       CAST((CAST(SUM(d.n_pos) OVER (
               ORDER BY d.decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) * 1000000) // t.big_p AS BIGINT) AS gain_fx,
       CAST((d.n_pos * t.big_n * 10000) // (d.n_users * t.big_p)
            AS BIGINT) AS lift_fx
FROM per_decile d, tot t
ORDER BY d.decile
""",
)
def q_eval_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table — rank users by a behavior
    score (click count), split into exact deciles, and report each
    decile's positive rate (purchase) relative to the base rate plus
    the cumulative share of all positives captured — the model-quality
    read-out that complements q_eval_auc (threshold-free ranking
    quality) and q_eval_calibration_bins (probability calibration)
    with the campaign-targeting view marketers actually act on.

    Determinism: the decile comes from ntile ordered by
    (score DESC, user_id) — a total order; lift and gains are integer
    cross-ratios (lift_fx = n_pos·N·1e4 // (n·P), gain_fx =
    cum_pos·1e6 // P), all-positive integer division.

    Scale shape: the per-user rollup is one map-side-combinable
    shuffle; deciles come from composite._exact_ntile_desc — the
    bucketed two-pass exact row-number (NO single-task global sort,
    identical output to the oracle's global ntile); everything after
    runs on the 10-row decile table with a broadcast 1-row total."""
    from highload_kafka_streams_spark.plans.composite import (
        _exact_ntile_desc,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("pos"),
    )
    tiled = _exact_ntile_desc(per_user, "score", "user_id", "decile", k=10)
    per_decile = tiled.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").alias("n_users"), F.sum("pos").alias("n_pos")
    )
    tot = per_decile.agg(
        F.sum("n_users").alias("big_n"), F.sum("n_pos").alias("big_p")
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(wd).cast("long"))
        .select(
            "decile",
            "n_users",
            "n_pos",
            "cum_pos",
            F.expr("CAST((cum_pos * 1000000) DIV big_p AS BIGINT)").alias(
                "gain_fx"
            ),
            F.expr(
                "CAST((n_pos * big_n * 10000) DIV (n_users * big_p)"
                " AS BIGINT)"
            ).alias("lift_fx"),
        )
        .orderBy("decile")
    )


_KAPPA_PRED = """
  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr'
       ELSE 'es' END
"""


@query(
    "q_agg_cohens_kappa",
    oracle=f"""
WITH scored AS (
  SELECT source, lang,
    len(list_filter(string_split(text,' '), x -> list_contains(['the','and','for','with','that','this','are','was'], x))) AS s_en,
    len(list_filter(string_split(text,' '), x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
    len(list_filter(string_split(text,' '), x -> list_contains(['le','la','les','et','est','pas','une','des'], x))) AS s_fr,
    len(list_filter(string_split(text,' '), x -> list_contains(['el','la','los','que','es','una','por','con'], x))) AS s_es
  FROM documents
),
labeled AS (
  SELECT source, lang AS actual, {_KAPPA_PRED} AS pred FROM scored
),
n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS BIGINT)
           AS agree
  FROM labeled GROUP BY source
),
act AS (
  SELECT source, actual AS cls, CAST(count(*) AS BIGINT) AS a
  FROM labeled GROUP BY source, actual
),
prd AS (
  SELECT source, pred AS cls, CAST(count(*) AS BIGINT) AS p
  FROM labeled GROUP BY source, pred
),
e AS (
  SELECT COALESCE(act.source, prd.source) AS source,
         CAST(SUM(COALESCE(act.a, 0) * COALESCE(prd.p, 0)) AS BIGINT)
           AS e_num
  FROM act FULL JOIN prd
    ON act.source = prd.source AND act.cls = prd.cls
  GROUP BY COALESCE(act.source, prd.source)
)
SELECT n.source, n.n, n.agree, e.e_num,
       CASE WHEN n.n * n.n - e.e_num <> 0
            THEN ((n.agree * n.n - e.e_num) * 1000000)
                 // (n.n * n.n - e.e_num)
            ELSE NULL END AS kappa_fx
FROM n JOIN e ON n.source = e.source
ORDER BY n.source
""",
)
def q_agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the labeled language and the
    stopword-profile classifier (q_text_langid's rater), per source —
    chance-corrected agreement κ = (p_o − p_e)/(1 − p_e), the standard
    annotator/model-agreement statistic a labeling pipeline reports
    alongside raw accuracy (q_text_lang_confusion gives the confusion
    matrix; this collapses it to the one scalar reviewers compare).

    Determinism: with A = agreements, N = rows and
    E = Σ_c actual_c·pred_c, κ = (A·N − E)/(N² − E) exactly; kappa_fx
    is that ratio at 1e6 in one integer division (numerator may be
    negative — Spark DIV and DuckDB // both truncate toward zero).

    Scale shape: three grouped passes over the corpus (agreement,
    actual marginals, predicted marginals — each map-side combinable)
    and a class-level join (bounded: ≤ 5 classes per source); the
    scoring itself is a projection (no shuffle). Marginal tables are
    |sources|×|classes|-sized regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    from highload_kafka_streams_spark.llm.text import STOPWORDS

    def score(lang: str):
        arr = F.array([F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    s_en, s_de, s_fr, s_es = (score(x) for x in ("en", "de", "fr", "es"))
    pred = (
        F.when(s_en + s_de + s_fr + s_es == 0, "und")
        .when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), "en")
        .when((s_de >= s_fr) & (s_de >= s_es), "de")
        .when(s_fr >= s_es, "fr")
        .otherwise("es")
    )
    labeled = scoped_persist(
        d.select("source", F.col("lang").alias("actual"), pred.alias("pred"))
    )
    n = labeled.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("actual") == F.col("pred"), 1).otherwise(0)
        ).alias("agree"),
    )
    act = labeled.groupBy("source", F.col("actual").alias("cls")).agg(
        F.count("*").alias("a")
    )
    prd = labeled.groupBy("source", F.col("pred").alias("cls")).agg(
        F.count("*").alias("p")
    )
    e = (
        act.join(prd, ["source", "cls"], "full")
        .groupBy("source")
        .agg(
            F.sum(
                F.coalesce("a", F.lit(0)) * F.coalesce("p", F.lit(0))
            ).alias("e_num")
        )
    )
    return (
        n.join(e, "source")
        .select(
            "source",
            "n",
            "agree",
            "e_num",
            F.expr(
                "CASE WHEN n * n - e_num <> 0 "
                "THEN ((agree * n - e_num) * 1000000) DIV (n * n - e_num) "
                "ELSE NULL END"
            ).alias("kappa_fx"),
        )
        .orderBy("source")
    )


@query(
    "q_text_tokenizer_fertility",
    oracle="""
WITH t AS (
  SELECT source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST((SUM(n_tokens) * 1000000) // SUM(n_words) AS BIGINT)
         AS fertility_fx,
       CAST((SUM(n_chars) * 1000000) // SUM(n_tokens) AS BIGINT)
         AS chars_per_token_fx
FROM t
GROUP BY source, lang
ORDER BY source, lang
""",
)
def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (source, language): BPE-ish tokens
    per whitespace word and bytes(chars) per token — the corpus-slice
    budgeting table that turns raw corpus size into training-token
    estimates and flags slices whose tokenization is pathologically
    expensive (high fertility = the tokenizer fragments that
    language). Rolls the per-doc counts of q_text_bpe_token_counts up
    to the corpus-planning grain.

    Determinism: counts are exact BIGINTs from the same regex lexer in
    both engines; the two ratios are single integer divisions at 1e6
    (all-positive).

    Scale shape: pure projection (regexp count per row, no explode —
    the token ARRAYS never materialize into rows) followed by one
    map-side-combinable groupBy on (source, lang); output is
    slice-cardinality-sized."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(
        "text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
    )
    t = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
        F.size(bpe).cast("long").alias("n_tokens"),
    )
    return (
        t.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_chars").alias("chars"),
            F.expr(
                "CAST((SUM(n_tokens) * 1000000) DIV SUM(n_words) AS BIGINT)"
            ).alias("fertility_fx"),
            F.expr(
                "CAST((SUM(n_chars) * 1000000) DIV SUM(n_tokens) AS BIGINT)"
            ).alias("chars_per_token_fx"),
        )
        .orderBy("source", "lang")
    )


_PERM_K = 200  # sign-flip permutations

_DUCK_HEX1 = "(strpos('0123456789abcdef', substr(md5({x}), 1, 1)) - 1)"


@query(
    "q_eval_permutation_test",
    oracle=f"""
WITH daily AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT)
         - CAST(SUM(CASE WHEN event_type = 'view'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS diff
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(abs(SUM(diff)) AS BIGINT) AS t_obs
  FROM daily
),
flips AS (
  SELECT k.k, daily.d, daily.diff,
         CASE WHEN {_DUCK_HEX1.format(x="'perm:' || CAST(k.k AS VARCHAR) || ':' || CAST(daily.d AS VARCHAR)")} % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM daily, (SELECT unnest(range(1, {_PERM_K} + 1)) AS k) k
),
nulls AS (
  SELECT k, CAST(abs(SUM(s * diff)) AS BIGINT) AS t_k
  FROM flips GROUP BY k
)
SELECT obs.n_days, obs.t_obs,
       CAST(count(*) FILTER (WHERE nulls.t_k >= obs.t_obs) AS BIGINT)
         AS n_ge,
       CAST(((1 + count(*) FILTER (WHERE nulls.t_k >= obs.t_obs))
             * 1000000) // ({_PERM_K} + 1) AS BIGINT) AS p_fx
FROM nulls, obs
GROUP BY obs.n_days, obs.t_obs
""",
)
def q_eval_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test — is daily click revenue
    different from daily view revenue? The test statistic is
    |Σ_i d_i| over the daily paired differences; the null distribution
    comes from 200 sign-flip replicas whose ±1 signs are drawn from
    the portable md5 family (parity of the first hex digit of
    md5('perm:k:day')), so BOTH engines generate the *identical*
    permutation set and the empirical p-value
    (1 + #{T_k ≥ T_obs}) / (K+1) is value-hash-checked exactly — the
    trick that makes an inherently randomized method oracle-verifiable
    (same family as q_dedup_minhash_md5). Distribution-free
    significance without any normal-CDF table, complementing
    q_agg_welch_ttest (parametric) and q_agg_mann_whitney (rank).

    Scale shape: one corpus pass builds the day-grain paired series;
    the K× explode happens on the calendar-bounded day table
    (K·|days| rows, never K·|events|), then one grouped sum per
    replica. The observed statistic crosses back as a broadcast 1-row
    table."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    daily = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.expr("CAST(unix_micros(ts) AS BIGINT) DIV 86400000000").alias(
                "d"
            ),
            F.when(F.col("event_type") == "click", cents)
            .otherwise(0)
            .alias("c"),
            F.when(F.col("event_type") == "view", cents)
            .otherwise(0)
            .alias("v"),
        )
        .groupBy("d")
        .agg((F.sum("c") - F.sum("v")).alias("diff"))
    )
    obs = daily.agg(
        F.count("*").alias("n_days"),
        F.abs(F.sum("diff")).alias("t_obs"),
    )
    ks = spark.range(1, _PERM_K + 1).select(F.col("id").alias("k"))
    flips = daily.crossJoin(F.broadcast(ks)).select(
        "k",
        "diff",
        F.when(
            F.expr(
                "CAST(conv(substring(md5(concat('perm:', CAST(k AS STRING),"
                " ':', CAST(d AS STRING))), 1, 1), 16, 10) AS BIGINT)"
                " % 2 = 0"
            ),
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    nulls = flips.groupBy("k").agg(
        F.abs(F.sum(F.col("s") * F.col("diff"))).alias("t_k")
    )
    return (
        nulls.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "t_obs")
        .agg(
            F.sum(F.when(F.col("t_k") >= F.col("t_obs"), 1).otherwise(0))
            .cast("long")
            .alias("n_ge"),
        )
        .select(
            "n_days",
            "t_obs",
            "n_ge",
            F.expr(
                f"CAST(((1 + n_ge) * 1000000) DIV ({_PERM_K} + 1)"
                " AS BIGINT)"
            ).alias("p_fx"),
        )
    )


_KNAPSACK_CAP = 500  # per-brand size budget


@query(
    "q_select_budget_knapsack",
    oracle=f"""
WITH scored AS (
  SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS size,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS value_c,
         (CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) * 1000)
           // CAST(p_size AS BIGINT) AS density_key
  FROM part WHERE p_size > 0
),
ranked AS (
  SELECT *,
         CAST(SUM(size) OVER (
           PARTITION BY p_brand
           ORDER BY density_key DESC, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_size
  FROM scored
),
sel AS (SELECT * FROM ranked WHERE cum_size <= {_KNAPSACK_CAP})
SELECT p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(SUM(value_c) AS BIGINT) AS value_c,
       CAST(SUM(size) AS BIGINT) AS size_used,
       CAST((SUM(size) * 1000000) // {_KNAPSACK_CAP} AS BIGINT)
         AS utilization_fx
FROM sel GROUP BY p_brand
ORDER BY brand
""",
)
def q_select_budget_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy knapsack under a per-brand capacity budget: rank parts by
    value density (price/size), take them in density order until the
    size budget is spent — the classic LP-relaxation greedy that
    curation pipelines use to pick "most value per byte" under a token
    or storage budget (the deterministic cousin of
    q_sample_temperature's soft weighting and q_alloc_water_filling's
    fair split).

    Determinism: the greedy order is the integer key
    (⌊price·100⌋·1000 // size, partkey) — no double ratios anywhere —
    and selection is a pure prefix-sum cutoff against the budget.

    Scale shape: one per-brand window (hash exchange on brand, ordered
    within partition) and one aggregate. A brand's parts are
    data-proportional, so the window is partitioned — never global;
    at extreme per-group cardinality the same two-phase bucketed
    prefix sum that de-weaked q_abc_pareto applies unchanged."""
    p = load_table(spark, sf_dir, "part")
    scored = p.filter(F.col("p_size") > 0).select(
        "p_brand",
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.expr("CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "value_c"
        ),
        F.expr(
            "(CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) * 1000)"
            " DIV CAST(p_size AS BIGINT)"
        ).alias("density_key"),
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("density_key"), "p_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = scored.withColumn("cum_size", F.sum("size").over(w)).filter(
        F.col("cum_size") <= _KNAPSACK_CAP
    )
    return (
        sel.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("value_c").alias("value_c"),
            F.sum("size").alias("size_used"),
            F.expr(
                f"CAST((SUM(size) * 1000000) DIV {_KNAPSACK_CAP} AS BIGINT)"
            ).alias("utilization_fx"),
        )
        .orderBy("brand")
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute sessionization gap


@query(
    "q_events_littles_law",
    oracle=f"""
WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t
  FROM events
),
gapped AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   > {_SESSION_GAP_US}
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
sess_id AS (
  SELECT user_id, t,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid
  FROM gapped
),
sess AS (
  SELECT user_id, sid, min(t) AS s, max(t) AS e
  FROM sess_id GROUP BY user_id, sid
),
bounds AS (
  SELECT min(s) // 3600000000 AS h0, max(e) // 3600000000 AS h1 FROM sess
),
hours AS (
  SELECT unnest(range((SELECT h0 FROM bounds),
                      (SELECT h1 FROM bounds) + 1)) AS h
),
cov AS (
  SELECT CAST(count(*) AS BIGINT) AS covered
  FROM sess JOIN hours
    ON hours.h * 3600000000 >= sess.s AND hours.h * 3600000000 < sess.e
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(SUM((e - s) // 1000000) AS BIGINT) AS sum_w_s
  FROM sess
),
grid AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM hours)
SELECT agg.n_sessions, agg.sum_w_s, grid.n_hours, cov.covered,
       (agg.n_sessions * 1000000) // grid.n_hours AS lambda_per_hour_fx,
       (agg.sum_w_s * 1000000) // agg.n_sessions AS w_avg_s_fx,
       (cov.covered * 1000000) // grid.n_hours AS l_sampled_fx,
       (agg.sum_w_s * 1000000) // (grid.n_hours * 3600) AS lw_fx,
       CASE WHEN agg.sum_w_s > 0
            THEN (((cov.covered * 1000000) // grid.n_hours) * 1000000)
                 // ((agg.sum_w_s * 1000000) // (grid.n_hours * 3600))
            ELSE NULL END AS l_over_lw_fx
FROM agg, grid, cov
""",
)
def q_events_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit L = λ·W over 30-minute-gap user sessions:
    arrival rate λ (sessions/hour over the observation span), mean
    sojourn W (session seconds), and an INDEPENDENTLY sampled
    concurrency L — the average number of live sessions at hourly
    instants, measured by an interval-coverage join rather than
    derived from the durations. The closing ratio L/(λW) is the
    standard queueing sanity check: ≈1 when sampling resolution
    captures the sessions, systematically <1 when sessions are short
    relative to the sampling grid (exactly what operators need to see
    before trusting a dashboard's concurrency estimate).

    Determinism: all epoch-µs integers; durations are whole seconds
    via integer division; every rate/ratio is one `//` at 1e6 over
    positive operands.

    Scale shape: sessionization is the canonical per-user
    gaps-and-islands (one hash exchange on user_id, ordered within
    partition); the coverage join pairs sessions with the
    calendar-bounded hourly grid through an overlap predicate whose
    candidate set per session is its own ≤ span-hours instants (Spark
    side explodes each session's covered hours — equi-join-free and
    linear in session-hours, the q_join_interval_overlap discipline);
    all final arithmetic happens on 1-row aggregates."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("t")
    )
    wu = Window.partitionBy("user_id").orderBy("t")
    gapped = e.withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(wu) > _SESSION_GAP_US)
            | F.lag("t").over(wu).isNull(),
            1,
        ).otherwise(0),
    )
    sess = scoped_persist(
        gapped.withColumn(
            "sid",
            F.sum("new_s")
            .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("t").alias("s"), F.max("t").alias("e"))
    )
    bounds = sess.agg(
        F.expr("min(s) DIV 3600000000").alias("h0"),
        F.expr("max(e) DIV 3600000000").alias("h1"),
    )
    # explode each session into the hourly instants it covers —
    # session span is bounded by the gap rule, so the fan-out per row
    # is small and there is no grid×session join
    covered = (
        sess.select(
            F.explode(
                F.sequence(
                    F.expr("(s + 3599999999) DIV 3600000000"),
                    F.expr("(e - 1) DIV 3600000000"),
                )
            ).alias("h"),
            "s",
            "e",
        )
        .filter(
            (F.col("h") * 3_600_000_000 >= F.col("s"))
            & (F.col("h") * 3_600_000_000 < F.col("e"))
        )
        .agg(F.count("*").alias("covered"))
    )
    agg = sess.agg(
        F.count("*").alias("n_sessions"),
        F.expr("CAST(SUM((e - s) DIV 1000000) AS BIGINT)").alias("sum_w_s"),
    )
    grid = bounds.select((F.col("h1") - F.col("h0") + 1).alias("n_hours"))
    return (
        agg.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_sessions",
            "sum_w_s",
            "n_hours",
            "covered",
            F.expr("(n_sessions * 1000000) DIV n_hours").alias(
                "lambda_per_hour_fx"
            ),
            F.expr("(sum_w_s * 1000000) DIV n_sessions").alias("w_avg_s_fx"),
            F.expr("(covered * 1000000) DIV n_hours").alias("l_sampled_fx"),
            F.expr("(sum_w_s * 1000000) DIV (n_hours * 3600)").alias("lw_fx"),
            F.expr(
                "CASE WHEN sum_w_s > 0 THEN "
                "(((covered * 1000000) DIV n_hours) * 1000000) "
                "DIV ((sum_w_s * 1000000) DIV (n_hours * 3600)) "
                "ELSE NULL END"
            ).alias("l_over_lw_fx"),
        )
    )


# Blob aHash: 32 blocks × 2 chars over the first 64 payload chars;
# 4 LSH bands × 8 bits; buckets larger than the hub cap are skipped.
_AHASH_PREFIX = 64
_AHASH_BLOCKS = 32
_AHASH_BANDS = 4
_AHASH_HUB_CAP = 200

_AHASH_DUCK = f"""
WITH padded AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS channel,
         rpad(text, {_AHASH_PREFIX}, ' ') AS p
  FROM documents
),
blocks AS (
  SELECT doc_id, channel,
         list_transform(range({_AHASH_BLOCKS}),
           b -> ord(substr(p, 2 * b + 1, 1))
                + ord(substr(p, 2 * b + 2, 1))) AS bl
  FROM padded
),
hashed AS (
  SELECT doc_id, channel,
         CAST(list_sum(list_transform(range({_AHASH_BLOCKS}),
           b -> CASE WHEN bl[b + 1] * {_AHASH_BLOCKS} >= list_sum(bl)
                     THEN CAST(1 AS BIGINT) << b ELSE 0 END))
           AS BIGINT) AS h
  FROM blocks
),
bands AS (
  SELECT doc_id, channel, h, j,
         (h >> (8 * j)) & 255 AS bv
  FROM hashed, (SELECT unnest(range({_AHASH_BANDS})) AS j)
),
kept AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY channel, j, bv) AS bucket_n
    FROM bands
  ) WHERE bucket_n <= {_AHASH_HUB_CAP}
),
cand AS (
  SELECT DISTINCT a.channel, a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.h AS ha, b.h AS hb
  FROM kept a JOIN kept b
    ON a.channel = b.channel AND a.j = b.j AND a.bv = b.bv
   AND a.doc_id < b.doc_id
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(count(*) FILTER (WHERE bit_count(xor(ha, hb)) <= 2) AS BIGINT)
         AS n_near_dups,
       CAST(count(*) FILTER (WHERE ha = hb) AS BIGINT) AS n_exact_sig
FROM cand
GROUP BY channel
ORDER BY channel
"""


@query("q_multimodal_ahash_buckets", oracle=_AHASH_DUCK)
def q_multimodal_ahash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean perceptual-hash (aHash-family) near-duplicate
    detection over the multimodal payload, banded LSH-style: the
    first 64 payload characters split into 32 two-char blocks, bit b
    set iff block b's mean exceeds the overall mean — the exact
    signature family image pipelines compute from decoded pixel
    grids, here derived from the deterministic blob convention
    (llm/multimodal.py: payload = utf-8 text bytes, channel =
    doc_id % 3) so the WHOLE pipeline — signature, banding, candidate
    join, Hamming verify — is value-hash-checked cross-engine. In a
    real deployment only the signature kernel moves into the
    mapInPandas decode stage (q_multimodal_features' seam); every
    relational stage here is unchanged.

    Determinism: code points are exact integers both engines (ASCII
    fixture; Spark ascii() == DuckDB ord() for BMP), the bit rule is
    the cross-multiplied comparison S_b·32 ≥ ΣS, and the verify is
    bit_count over 32-bit integers.

    Scale shape: signature build is a pure projection (no explode —
    the 32-block list never leaves its row); candidates come from
    equi-joins on (channel, band, band-value) with a hub cap (buckets
    over 200 members are skipped — the q_text_winnowing discipline)
    so no bucket can go quadratic; the Hamming verify touches
    candidate pairs only. Never an all-pairs comparison."""
    from highload_kafka_streams_spark.llm.multimodal import with_blob_column

    docs = with_blob_column(load_table(spark, sf_dir, "documents"))
    p = F.rpad(F.col("text"), _AHASH_PREFIX, " ")
    bl = F.array(
        *[
            F.ascii(F.substring(p, 2 * b + 1, 1))
            + F.ascii(F.substring(p, 2 * b + 2, 1))
            for b in range(_AHASH_BLOCKS)
        ]
    )
    # r11 (guide §1.2 per-task work): the block total ΣS used to sit
    # INSIDE the per-bit lambda — aggregate(bl) re-folded 32× per doc
    # (1024 element steps on the interpreted HOF path). A plain staged
    # projection does NOT survive: CollapseProject inlines a
    # once-referenced alias back into the lambda body (verified on the
    # optimized plan). The explode-of-1-element-array Generate is the
    # barrier that pins ΣS as a real per-row attribute, folded once.
    # Bit rule unchanged (S_b·32 ≥ ΣS); bl itself is referenced twice,
    # so its projection already survives.
    hashed = docs.select(
        "doc_id",
        F.col("meta.channel").alias("channel"),
        bl.alias("bl"),
    ).select(
        "doc_id",
        "channel",
        "bl",
        F.explode(
            F.array(F.expr("aggregate(bl, 0, (a, v) -> a + v)"))
        ).alias("bl_tot"),
    ).select(
        "doc_id",
        "channel",
        F.expr(
            f"CAST(aggregate(zip_with(bl, sequence(0, {_AHASH_BLOCKS - 1}),"
            f" (x, i) -> CASE WHEN x * {_AHASH_BLOCKS} >= bl_tot"
            " THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT)"
            " END), CAST(0 AS BIGINT), (a, v) -> a + v) AS BIGINT)"
        ).alias("h"),
    )
    js = spark.range(_AHASH_BANDS).select(F.col("id").cast("int").alias("j"))
    bands = hashed.crossJoin(F.broadcast(js)).select(
        "doc_id",
        "channel",
        "h",
        "j",
        F.expr("(h >> (8 * j)) & 255").alias("bv"),
    )
    wb = Window.partitionBy("channel", "j", "bv")
    # persist: kept feeds both sides of the candidate self-join —
    # uncached, the whole signature lineage (scan → 32-block aHash
    # projection → band fan-out → hub-cap window) ran twice (r11
    # before-plan: 2 parquet scans + 2 Window nodes; after: 1 + cache)
    kept = scoped_persist(
        bands.withColumn("bucket_n", F.count("*").over(wb))
        .filter(F.col("bucket_n") <= _AHASH_HUB_CAP)
        .drop("bucket_n")
    )
    ka, kb = kept.alias("a"), kept.alias("b")
    cand = (
        ka.join(
            kb,
            (F.col("a.channel") == F.col("b.channel"))
            & (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.channel").alias("channel"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.groupBy("channel")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(F.expr("bit_count(ha ^ hb) <= 2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_near_dups"),
            F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_sig"),
        )
        .orderBy("channel")
    )


_DTW_BAND = 7
_DTW_INF = 9_000_000_000_000_000


@query(
    "q_ts_dtw_distance",
    oracle=f"""
WITH RECURSIVE ca AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1
),
cb AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1
),
dims AS (
  SELECT (SELECT list(v ORDER BY d) FROM ca) AS a,
         (SELECT list(v ORDER BY d) FROM cb) AS b
),
init AS (
  SELECT a, b, len(a) AS n, len(b) AS m FROM dims
),
dtw AS (
  SELECT 1 AS i, 1 AS j, a, b, n, m,
         [CAST(0 AS BIGINT)]
           || list_transform(range(m),
                x -> CAST({_DTW_INF} AS BIGINT)) AS prev,
         [CAST({_DTW_INF} AS BIGINT)] AS cur
  FROM init
  UNION ALL
  SELECT CASE WHEN j = m THEN i + 1 ELSE i END,
         CASE WHEN j = m THEN 1 ELSE j + 1 END,
         a, b, n, m,
         CASE WHEN j = m THEN cur2 ELSE prev END,
         CASE WHEN j = m THEN [CAST({_DTW_INF} AS BIGINT)] ELSE cur2 END
  FROM (
    SELECT i, j, a, b, n, m, prev,
           cur || [least(
             CASE WHEN abs(i - j) <= {_DTW_BAND}
                  THEN abs(a[i] - b[j])
                       + least(prev[j + 1], prev[j], cur[j])
                  ELSE CAST({_DTW_INF} AS BIGINT) END,
             CAST({_DTW_INF} AS BIGINT))] AS cur2
    FROM dtw WHERE i <= n
  )
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
       CAST(prev[m + 1] AS BIGINT) AS dtw_c
FROM dtw WHERE i = n + 1 AND j = 1
""",
)
def q_ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sakoe–Chiba banded dynamic time warping between the daily click
    and view revenue series — the alignment distance q_ts_similarity
    _search's lockstep metrics cannot express (DTW tolerates phase
    shift). The DP recurrence D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j),
    D(i−1,j−1), D(i,j−1)) inside band |i−j| ≤ 7 is inherently
    sequential, so this is the documented CUSTOM-OPERATOR lane (b):
    the kernel runs as an Arrow-batched pandas UDF over the
    calendar-bounded series pair, while every corpus-proportional
    stage (the daily rollups) stays in native DataFrame ops. The
    DuckDB oracle proves the exact same recurrence via a cell-stepping
    recursive CTE carrying the (prev, cur) DP rows as lists — the
    whole DP trajectory is value-hash-checked, making the Python
    kernel's correctness externally pinned, not self-certified.

    Determinism: all-integer cents; min/abs only; the out-of-band
    sentinel caps additions at 9e15 so no overflow path exists.

    Scale shape: two map-side-combinable daily rollups; the UDF sees
    exactly ONE row containing two |days|-length arrays (bounded by
    the calendar, never by event volume). A fleet-scale variant maps
    the same kernel over one row per (series-pair) group via
    applyInPandas — embarrassingly parallel across pairs."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")

    def daily(et: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .select(
                F.expr(
                    "CAST(unix_micros(ts) AS BIGINT) DIV 86400000000"
                ).alias("d"),
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias(
                    "c"
                ),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("v"))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d, v))),"
                    " x -> x.v)"
                ).alias("vs")
            )
        )

    pair = (
        daily("click")
        .withColumnRenamed("vs", "a")
        .crossJoin(F.broadcast(daily("view").withColumnRenamed("vs", "b")))
    )

    def kernel(batches):
        for pdf in batches:
            out = []
            for a, b in zip(pdf["a"], pdf["b"]):
                a, b = list(a), list(b)
                n, m = len(a), len(b)
                inf = _DTW_INF
                prev = [0] + [inf] * m
                for i in range(1, n + 1):
                    cur = [inf]
                    for j in range(1, m + 1):
                        if abs(i - j) <= _DTW_BAND:
                            d = abs(a[i - 1] - b[j - 1]) + min(
                                prev[j], prev[j - 1], cur[j - 1]
                            )
                            cur.append(min(d, inf))
                        else:
                            cur.append(inf)
                    prev = cur
                out.append((n, m, prev[m]))
            yield pd.DataFrame(out, columns=["n_a", "n_b", "dtw_c"])

    return pair.mapInPandas(kernel, "n_a long, n_b long, dtw_c long")


_BH_K = 200  # permutation replicas per hypothesis
_BH_ALPHA_10 = 1  # α = 0.1 expressed as 1/10


@query(
    "q_eval_bh_fdr",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, d
),
paired AS (
  SELECT a.event_type, a.d, a.x - f.x AS diff
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.d = a.d - 7
),
obs AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(abs(SUM(diff)) AS BIGINT) AS t_obs
  FROM paired GROUP BY event_type
),
flips AS (
  SELECT p.event_type, k.k, p.diff,
         CASE WHEN (strpos('0123456789abcdef',
                substr(md5('bh:' || p.event_type || ':'
                           || CAST(k.k AS VARCHAR) || ':'
                           || CAST(p.d AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM paired p, (SELECT unnest(range(1, {_BH_K} + 1)) AS k) k
),
nulls AS (
  SELECT event_type, k, CAST(abs(SUM(s * diff)) AS BIGINT) AS t_k
  FROM flips GROUP BY event_type, k
),
pvals AS (
  SELECT o.event_type, o.n_pairs, o.t_obs,
         CAST(((1 + count(*) FILTER (WHERE n.t_k >= o.t_obs)) * 1000000)
              // ({_BH_K} + 1) AS BIGINT) AS p_fx
  FROM obs o JOIN nulls n ON n.event_type = o.event_type
  GROUP BY o.event_type, o.n_pairs, o.t_obs
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_fx, event_type) AS BIGINT)
           AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pvals
),
cut AS (
  SELECT *,
         max(CASE WHEN p_fx * m * 10 <= rnk * 1000000 * {_BH_ALPHA_10}
                  THEN rnk ELSE 0 END) OVER () AS cutoff
  FROM ranked
)
SELECT event_type, n_pairs, t_obs, p_fx, rnk,
       rnk <= cutoff AS rejected
FROM cut
ORDER BY rnk
""",
)
def q_eval_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a FAMILY of permutation
    tests: for every event type, test week-over-week drift (paired
    diff x_d − x_{d−7}, sign-flip null from the portable md5 family,
    K = 200), then apply the BH step-up rule at α = 0.1 — reject all
    hypotheses ranked ≤ the largest i with p_(i) ≤ i·α/m. The
    multiple-testing layer every metrics platform needs once it runs
    one test per segment/metric — without it, 5% of all segments
    "drift" forever.

    Determinism: empirical p-values are exact integer ratios at 1e6;
    the BH comparison is the cross-multiplied p_fx·m·10 ≤ i·1e6
    (α = 1/10) on the already-truncated p_fx both engines share; rank
    ties break on event_type.

    Scale shape: one corpus pass to day×type grain; the K× sign-flip
    explode and everything after runs on the calendar-bounded paired
    table (K·|days|·|types| rows); the BH scan is two windows over the
    m-row hypothesis table (m = #event types, bounded)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("CAST(unix_micros(ts) AS BIGINT) DIV 86400000000").alias(
                "d"
            ),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c").alias("x"))
    )
    a, f7 = daily.alias("a"), daily.alias("f")
    paired = scoped_persist(
        a.join(
            f7,
            (F.col("f.event_type") == F.col("a.event_type"))
            & (F.col("f.d") == F.col("a.d") - 7),
        ).select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.d").alias("d"),
            (F.col("a.x") - F.col("f.x")).alias("diff"),
        )
    )
    obs = paired.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.abs(F.sum("diff")).alias("t_obs"),
    )
    ks = spark.range(1, _BH_K + 1).select(F.col("id").alias("k"))
    flips = paired.crossJoin(F.broadcast(ks)).select(
        "event_type",
        "k",
        "diff",
        F.when(
            F.expr(
                "CAST(conv(substring(md5(concat('bh:', event_type, ':',"
                " CAST(k AS STRING), ':', CAST(d AS STRING))), 1, 1),"
                " 16, 10) AS BIGINT) % 2 = 0"
            ),
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    nulls = flips.groupBy("event_type", "k").agg(
        F.abs(F.sum(F.col("s") * F.col("diff"))).alias("t_k")
    )
    pvals = (
        obs.join(nulls, "event_type")
        .groupBy("event_type", "n_pairs", "t_obs")
        .agg(
            F.expr(
                f"CAST(((1 + SUM(CASE WHEN t_k >= t_obs THEN 1 ELSE 0 END))"
                f" * 1000000) DIV ({_BH_K} + 1) AS BIGINT)"
            ).alias("p_fx")
        )
    )
    wr = Window.orderBy("p_fx", "event_type")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pvals.withColumn(
        "rnk", F.row_number().over(wr).cast("long")
    ).withColumn("m", F.count("*").over(wall).cast("long"))
    cut = ranked.withColumn(
        "cutoff",
        F.max(
            F.expr(
                f"CASE WHEN p_fx * m * 10 <= rnk * 1000000 * {_BH_ALPHA_10}"
                " THEN rnk ELSE 0 END"
            )
        ).over(wall),
    )
    return cut.select(
        "event_type",
        "n_pairs",
        "t_obs",
        "p_fx",
        "rnk",
        (F.col("rnk") <= F.col("cutoff")).alias("rejected"),
    ).orderBy("rnk")


_PI_SCALE = 10_000  # embedding fixed-point scale
_PI_ONE = 1_000_000  # normalized eigenvector unit


@query(
    "q_embed_power_iteration",
    oracle=f"""
WITH xf AS (
  SELECT vec_id, i.i AS dim,
         CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * {_PI_SCALE} + 0.5)
              AS BIGINT) AS x
  FROM embeddings, (SELECT unnest(range(64)) AS i) i
),
s1 AS (
  SELECT vec_id, CAST(SUM(x) AS BIGINT) AS s FROM xf GROUP BY vec_id
),
v1r AS (
  SELECT xf.dim, CAST(SUM(xf.x * s1.s) AS BIGINT) AS v
  FROM xf JOIN s1 ON s1.vec_id = xf.vec_id
  GROUP BY xf.dim
),
v1 AS (
  SELECT dim, (v * {_PI_ONE}) // (SELECT max(abs(v)) FROM v1r) AS v
  FROM v1r
),
s2 AS (
  SELECT xf.vec_id,
         CAST(SUM(xf.x * v1.v) AS BIGINT) // {_PI_SCALE} AS s
  FROM xf JOIN v1 ON v1.dim = xf.dim
  GROUP BY xf.vec_id
),
v2r AS (
  SELECT xf.dim, CAST(SUM(xf.x * s2.s) AS BIGINT) AS v
  FROM xf JOIN s2 ON s2.vec_id = xf.vec_id
  GROUP BY xf.dim
),
v2 AS (
  SELECT dim, (v * {_PI_ONE}) // (SELECT max(abs(v)) FROM v2r) AS v
  FROM v2r
)
SELECT CAST(v1.dim AS BIGINT) AS dim,
       CAST(v1.v AS BIGINT) AS v1_fx,
       CAST(v2.v AS BIGINT) AS v2_fx
FROM v1 JOIN v2 ON v1.dim = v2.dim
ORDER BY dim
""",
)
def q_embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward the dominant singular direction
    of the (uncentered) embedding matrix — v_{t+1} ∝ Xᵀ(X·v_t) from
    v_0 = 1 — the building block behind PCA whitening, spectral
    initialization for the IVF/k-means steps already here, and
    low-rank probes. Crucially the d×d Gram matrix is NEVER formed:
    each step is two corpus passes (a row projection s_r = ⟨x_r, v⟩,
    then a dim-keyed weighted sum), so cost is O(n·d) with a d-row
    result — the only shape that survives d or n growing.

    Determinism: embeddings fix to integers once (⌊x·1e4+0.5⌋); each
    iterate renormalizes by max|v| via integer division (sign-safe:
    both engines truncate toward zero); s₂ drops a 1e4 factor between
    passes so every accumulator stays ≤ ~1e15 at fixture scale.
    Reporting BOTH iterates pins the trajectory.

    Scale shape: posexplode to (vec, dim, x) rows; per-vec and per-dim
    aggregates are map-side combinable; v broadcasts back as a d-row
    (bounded) table, never a corpus-sized one. At extreme n the fixed
    scale shrinks per compat.py's documented knob."""
    emb = load_table(spark, sf_dir, "embeddings")
    xf = scoped_persist(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "xv")
        ).select(
            "vec_id",
            "dim",
            F.expr(
                f"CAST(FLOOR(CAST(xv AS DOUBLE) * {_PI_SCALE} + 0.5) AS BIGINT)"
            ).alias("x"),
        )
    )

    def norm(df: DataFrame) -> DataFrame:
        mx = df.agg(F.max(F.abs(F.col("v"))).alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "dim", F.expr(f"(v * {_PI_ONE}) DIV mx").alias("v")
        )

    s1 = xf.groupBy("vec_id").agg(F.sum("x").alias("s"))
    v1 = scoped_persist(
        norm(
            xf.join(s1, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("x") * F.col("s")).alias("v"))
        )
    )
    s2 = (
        xf.join(F.broadcast(v1), "dim")
        .groupBy("vec_id")
        .agg(F.expr(f"CAST(SUM(x * v) AS BIGINT) DIV {_PI_SCALE}").alias("s"))
    )
    v2 = norm(
        xf.join(s2, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("x") * F.col("s")).alias("v"))
    )
    return (
        v1.withColumnRenamed("v", "v1_fx")
        .join(v2.withColumnRenamed("v", "v2_fx"), "dim")
        .select(F.col("dim").cast("long"), "v1_fx", "v2_fx")
        .orderBy("dim")
    )
