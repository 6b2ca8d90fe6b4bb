"""Round-7 additions (a) — edit-distance record linkage, rank-based
changepoint detection, divisor-method apportionment, and
Johnson–Lindenstrauss projection auditing.

Same house rules as the round-6 modules (SURVEY.md §5): exact BIGINT
arithmetic or one deterministic fixed-point step per emitted value;
`DIV`/`//` integer division only; transcendental constants fixed-
pointed ONCE in Python at import and interpolated as integer literals
into BOTH engines; deterministic total orders under every LIMIT /
row_number; md5 as the cross-engine hash family.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# ---------------------------------------------------------------------------
# q_er_levenshtein_linkage — sorted-neighborhood fuzzy linkage, edit-distance
# ---------------------------------------------------------------------------

_LV_WINDOW = 3   # neighbors ahead to score (sorted-neighborhood width - 1)
_LV_MAXDIST = 3  # link threshold (edit ops)


@query(
    "q_er_levenshtein_linkage",
    oracle=f"""
WITH ordered AS (
  SELECT p_partkey, p_name,
         substr(p_name, 1, 1) || '|' || CAST(p_size // 10 AS VARCHAR) AS blk
  FROM part
),
led AS (
  SELECT blk, p_name,
         [{", ".join(
             f"lead(p_name, {i}) OVER w"
             for i in range(1, _LV_WINDOW + 1)
         )}] AS nbs
  FROM ordered
  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)
),
scored AS (
  SELECT blk, CAST(levenshtein(p_name, nb.nb) AS BIGINT) AS dist
  FROM led, unnest(nbs) AS nb(nb)
  WHERE nb.nb IS NOT NULL
)
SELECT blk,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist <= {_LV_MAXDIST} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_linked,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(MIN(dist) AS BIGINT) AS min_dist
FROM scored
GROUP BY blk
ORDER BY blk
""",
)
def q_er_levenshtein_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage by EDIT DISTANCE over a sorted
    neighborhood: parts sort by name inside a (first-char, size-decade)
    block, each record is scored against its next 3 neighbors in sort
    order (lead(k) — the classic sorted-neighborhood trick that turns
    pairwise linkage into a LINEAR scan), and a pair links when
    levenshtein ≤ 3. Complements the ER family's phonetic
    (q_er_phonetic_blocking), delete-neighborhood (q_er_symspell_match)
    and key-sort (q_er_sorted_neighborhood) blockers with the
    edit-distance scorer itself — both engines ship the same exact
    integer levenshtein, so the oracle is value-exact.

    Scale shape: no pair table ever forms — candidates come from
    lead() over a sorted window (w·n rows, w=3 fixed), so work is
    O(n·w) regardless of block population; the only exchanges are the
    window sort (partitioned by block — parallel range sort, the skew
    ceiling is the largest block's SORT, not its pair count) and the
    block-grain rollup. Levenshtein on ~20-char names is a bounded
    per-row kernel, JVM-side (WholeStageCodegen), no UDF."""
    part = load_table(spark, sf_dir, "part")
    ordered = part.select(
        "p_partkey",
        "p_name",
        F.concat(
            F.substring("p_name", 1, 1),
            F.lit("|"),
            F.expr("CAST(p_size DIV 10 AS STRING)"),
        ).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("p_name", "p_partkey")
    led = ordered.select(
        "blk",
        "p_name",
        F.array(
            *[
                F.lead("p_name", i).over(w)
                for i in range(1, _LV_WINDOW + 1)
            ]
        ).alias("nbs"),
    )
    scored = (
        led.select("blk", "p_name", F.explode("nbs").alias("nb"))
        .filter(F.col("nb").isNotNull())
        .select(
            "blk",
            F.levenshtein("p_name", "nb").cast("long").alias("dist"),
        )
    )
    return (
        scored.groupBy("blk")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.when(F.col("dist") <= _LV_MAXDIST, 1).otherwise(0)
            ).cast("long").alias("n_linked"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.min("dist").cast("long").alias("min_dist"),
        )
        .orderBy("blk")
    )


# ---------------------------------------------------------------------------
# q_time_pettitt — rank-based (Mann–Whitney) changepoint detection
# ---------------------------------------------------------------------------

# ln(2/0.01) = ln(200), fixed-pointed once: the Pettitt significance
# bound p ≈ 2·exp(−6K²/(n³+n²)) < 0.01  ⟺  6·K² > ln(200)·(n³+n²)
_PETTITT_LN200_FX = int(math.floor(math.log(200.0) * 1000 + 0.5))  # 5298


@query(
    "q_time_pettitt",
    oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, d, c,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(rank() OVER (PARTITION BY event_type ORDER BY c) - 1
              AS BIGINT) AS cnt_less,
         CAST(count(*) OVER (PARTITION BY event_type, c) AS BIGINT)
           AS cnt_eq
  FROM daily
),
u AS (
  SELECT event_type, d, n,
         SUM(2 * cnt_less + cnt_eq - n)
           OVER (PARTITION BY event_type ORDER BY d) AS u_t
  FROM ranked
),
best AS (
  SELECT event_type, d, n, u_t,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(u_t) DESC, d) AS rn
  FROM u
)
SELECT event_type,
       n AS n_days,
       d AS cp_day,
       CAST(abs(u_t) AS BIGINT) AS k_stat,
       CASE WHEN 6 * u_t * u_t * 1000
                 > {_PETTITT_LN200_FX} * (n * n * n + n * n)
            THEN 1 ELSE 0 END AS significant
FROM best WHERE rn = 1
ORDER BY event_type
""",
)
def q_time_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test per event type over the daily count
    series — the rank-based (Mann–Whitney flavored) single-changepoint
    detector that needs NO distributional assumptions, complementing
    q_anomaly_cusum (parametric location drift) and q_time_control_chart
    (pointwise limits). The pairwise statistic U_t = Σ_{{i≤t}} Σ_{{j>t}}
    sgn(x_i − x_j) collapses to prefix sums of midranks — with midranks
    2R_i = 2·cnt_less + cnt_eq + 1, the prefix antisymmetry gives
    U_t = Σ_{{i≤t}} (2·cnt_less_i + cnt_eq_i + 1 − (n+1)) — no pair
    table, EXACT integers end-to-end. The changepoint is argmax|U_t|
    (earliest day on ties); the significance flag cross-multiplies the
    approximation p ≈ 2·exp(−6K²/(n³+n²)) against p=0.01 with ln(200)
    fixed-pointed once at import.

    Scale shape: a (type, day) rollup with map-side combine, two
    windows both partitioned by event_type (rank over value, prefix sum
    over day), one top-1 row_number — everything after the first rollup
    is day-grain (bounded by the calendar, not the corpus)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("d")
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    wt = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "d",
        F.count("*").over(wt).cast("long").alias("n"),
        (F.rank().over(wt.orderBy("c")) - 1).cast("long").alias("cnt_less"),
        F.count("*").over(Window.partitionBy("event_type", "c"))
        .cast("long").alias("cnt_eq"),
    )
    wd = wt.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    u = ranked.select(
        "event_type",
        "d",
        "n",
        F.sum(
            2 * F.col("cnt_less") + F.col("cnt_eq") - F.col("n")
        ).over(wd).alias("u_t"),
    )
    wb = wt.orderBy(F.abs(F.col("u_t")).desc(), "d")
    return (
        u.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("d").alias("cp_day"),
            F.abs(F.col("u_t")).cast("long").alias("k_stat"),
            F.when(
                6 * F.col("u_t") * F.col("u_t") * 1000
                > _PETTITT_LN200_FX
                * (F.col("n") ** 3 + F.col("n") ** 2).cast("long"),
                1,
            ).otherwise(0).alias("significant"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_alloc_huntington_hill — equal-proportions apportionment
# ---------------------------------------------------------------------------

_HH_SEATS = 100


@query(
    "q_alloc_huntington_hill",
    oracle=f"""
WITH pop AS (
  SELECT n.n_name, n.n_nationkey, CAST(count(*) AS BIGINT) AS pop
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
meta AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM pop),
prio AS (
  SELECT p.n_name, p.n_nationkey, p.pop, k.k,
         (p.pop * p.pop * 1000000) // (k.k * (k.k + 1)) AS prio_fx
  FROM pop p, (SELECT unnest(range(1, {_HH_SEATS})) AS k) k
),
won AS (
  SELECT n_nationkey FROM (
    SELECT n_nationkey,
           row_number() OVER (ORDER BY prio_fx DESC, n_nationkey, k) AS rn
    FROM prio
  ) WHERE rn <= {_HH_SEATS} - (SELECT n_states FROM meta)
)
SELECT p.n_name, p.pop,
       CAST(1 + coalesce(w.extra, 0) AS BIGINT) AS seats
FROM pop p
LEFT JOIN (
  SELECT n_nationkey, CAST(count(*) AS BIGINT) AS extra
  FROM won GROUP BY 1
) w ON w.n_nationkey = p.n_nationkey
ORDER BY p.n_name
""",
)
def q_alloc_huntington_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huntington–Hill (equal proportions) apportionment of 100 seats
    across nations by customer population — the divisor method the US
    House uses, completing the allocation family next to D'Hondt
    (q_alloc_dhondt, highest averages with divisor n) by exercising the
    geometric-mean divisor √(n(n+1)). Every state seats 1 first; the
    remaining seats go to the top priorities pop/√(n(n+1)), compared via
    the SQUARED priority pop²·10⁶ // (n(n+1)) so the whole contest is
    exact integer arithmetic (ties broken by nationkey then n,
    deterministic in both engines — documented, the flooring makes
    near-equal priorities compare equal where exact rationals would
    not).

    Scale shape: populations are one rollup; the priority table is
    states × 99 (bounded by the seat count, not the corpus); one
    TakeOrdered-style row_number over that bounded table; the state
    count enters as a broadcast 1-row frame."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    pop = (
        cust.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            cust["c_nationkey"] == nat["n_nationkey"],
        )
        .groupBy("n_name", "n_nationkey")
        .agg(F.count("*").cast("long").alias("pop"))
    )
    n_states = pop.agg(F.count("*").cast("long").alias("n_states"))
    prio = pop.select(
        "n_nationkey",
        "pop",
        F.explode(F.sequence(F.lit(1), F.lit(_HH_SEATS - 1))).alias("k"),
    ).select(
        "n_nationkey",
        "k",
        F.expr("(pop * pop * 1000000) DIV (k * (k + 1))").alias("prio_fx"),
    )
    wr = Window.orderBy(F.col("prio_fx").desc(), "n_nationkey", "k")
    won = (
        prio.withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(n_states))
        .filter(F.col("rn") <= _HH_SEATS - F.col("n_states"))
        .groupBy("n_nationkey")
        .agg(F.count("*").cast("long").alias("extra"))
    )
    return (
        pop.join(F.broadcast(won), "n_nationkey", "left")
        .select(
            "n_name",
            "pop",
            (1 + F.coalesce(F.col("extra"), F.lit(0))).cast("long")
            .alias("seats"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_embed_jl_projection — Johnson–Lindenstrauss ±1 projection + distortion
# ---------------------------------------------------------------------------

_JL_DIM = 8
# ±1 signs from md5 parity — reproducible in any engine, fixed at import
_JL_SIGNS = tuple(
    tuple(
        1 if int(hashlib.md5(f"jl:{k}:{d}".encode()).hexdigest()[0], 16) & 1
        else -1
        for d in range(64)
    )
    for k in range(_JL_DIM)
)
_JL_S_SQL = tuple("[" + ", ".join(str(s) for s in row) + "]" for row in _JL_SIGNS)
_JL_S_SPARK = tuple(
    "array(" + ", ".join(str(s) for s in row) + ")" for row in _JL_SIGNS
)


@query(
    "q_embed_jl_projection",
    oracle=f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5)
                     AS BIGINT)) AS ax
  FROM embeddings WHERE vec_id < 32
),
proj AS (
  SELECT vec_id, ax,
         [{", ".join(
             f"CAST(list_sum(list_transform(range(64),"
             f" i -> ax[i + 1] * ({s})[i + 1])) AS BIGINT)"
             for s in _JL_S_SQL
         )}] AS y
  FROM fx
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(list_sum(list_transform(range(64),
           i -> (a.ax[i+1] - b.ax[i+1]) * (a.ax[i+1] - b.ax[i+1])))
           AS BIGINT) AS d2_orig,
         CAST(list_sum(list_transform(range({_JL_DIM}),
           j -> (a.y[j+1] - b.y[j+1]) * (a.y[j+1] - b.y[j+1])))
           AS BIGINT) AS d2_proj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
)
SELECT va, vb, d2_orig, d2_proj,
       CAST((d2_proj * 10000) // NULLIF({_JL_DIM} * d2_orig, 0) AS BIGINT)
         AS ratio_fx
FROM pairs
ORDER BY va
""",
)
def q_embed_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→8 dims with a ±1 sign
    matrix derived from md5 parity (Achlioptas's database-friendly JL —
    sparse/sign projections preserve pairwise distances in expectation
    with variance 1/k), plus the distortion AUDIT the embedding-compression
    stack needs: for 16 probe pairs, the fixed-point squared-distance
    ratio d²_proj/(k·d²_orig) ≈ 1. Embeddings enter fixed-point once
    (⌊v·10⁶+0.5⌋), after which projection, distances, and ratios are
    exact BIGINT — the oracle reproduces every integer. Complements
    q_embed_quantization (per-dim codebooks) and the PQ/MRL ablations
    with the oblivious linear-map compressor.

    Scale shape: the projection is a pure per-row zip_with against 8
    literal sign arrays (outside any lambda — the r7 HOF guard shape),
    so corpus-wide application is a projection; the audit's pair join
    is on consecutive probe ids (16 bounded rows). Magnitudes: |ax| ≤
    ~10⁶, |y| ≤ 64·10⁶, diff² ≤ ~1.6e16 — inside int64. The distortion
    divisor is NULLIF-guarded in BOTH engines (r7 advisor): identical
    adjacent probe embeddings give d2_orig = 0, where unguarded Spark
    DIV returns NULL but DuckDB // errors — the guard makes both emit
    NULL for that (degenerate) pair."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 32)
    fx = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        ).alias("ax"),
    )
    proj = fx.select(
        "vec_id",
        "ax",
        F.expr(
            "array("
            + ", ".join(
                f"aggregate(zip_with(ax, {s}, (p, q) -> p * q),"
                f" CAST(0 AS BIGINT), (a, t) -> a + t)"
                for s in _JL_S_SPARK
            )
            + ")"
        ).alias("y"),
    )
    b = proj.select(
        F.col("vec_id").alias("vb"),
        F.col("ax").alias("bx"),
        F.col("y").alias("by"),
    )
    pairs = (
        proj.filter(F.col("vec_id") % 2 == 0)
        .join(b, b["vb"] == proj["vec_id"] + 1)
        .select(
            F.col("vec_id").alias("va"),
            "vb",
            F.expr(
                "aggregate(zip_with(ax, bx, (p, q) -> (p - q) * (p - q)),"
                " CAST(0 AS BIGINT), (a, t) -> a + t)"
            ).alias("d2_orig"),
            F.expr(
                "aggregate(zip_with(y, by, (p, q) -> (p - q) * (p - q)),"
                " CAST(0 AS BIGINT), (a, t) -> a + t)"
            ).alias("d2_proj"),
        )
    )
    return pairs.select(
        "va",
        "vb",
        "d2_orig",
        "d2_proj",
        F.expr(
            f"CAST((d2_proj * 10000) DIV NULLIF({_JL_DIM} * d2_orig, 0)"
            " AS BIGINT)"
        ).alias("ratio_fx"),
    ).orderBy("va")


# ---------------------------------------------------------------------------
# q_graph_jaccard_neighbors — neighbor-overlap link prediction
# ---------------------------------------------------------------------------

_JN_TOPK = 20


@query(
    "q_graph_jaccard_neighbors",
    oracle=f"""
WITH po AS (
  SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem
),
deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM po GROUP BY p),
inter AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS i
  FROM po a JOIN po b ON b.o = a.o AND b.p > a.p
  GROUP BY a.p, b.p
)
SELECT pa, pb, i AS n_shared,
       CAST((i * 10000) // (da.d + db.d - i) AS BIGINT) AS jaccard_fx
FROM inter
JOIN deg da ON da.p = pa
JOIN deg db ON db.p = pb
ORDER BY jaccard_fx DESC, pa, pb
LIMIT {_JN_TOPK}
""",
)
def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by NEIGHBOR-SET Jaccard on the part–order
    bipartite graph: two parts are similar when the order sets they
    appear in overlap (|A∩B| / |A∪B|), the classic co-purchase
    recommender score — completing the link-prediction family next to
    q_graph_adamic_adar (rarity-weighted overlap) with the unweighted
    set-overlap score. Intersections come from within-order pair
    expansion (baskets are ≤ ~17 distinct parts, so pair volume is
    basket-bounded — linear in lineitems, never parts²); degrees are
    one rollup; the score is exact integer cross-multiplication and
    the top-20 rides a deterministic total order.

    Scale shape: dedup → basket-bounded self-join on the ORDER key →
    (pa, pb) rollup → two broadcast-size degree joins (degree table is
    part-cardinality; at 100 TB it shuffles on the pair's part keys
    instead — both sides key-partitioned) → TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    # persist: po feeds the degree rollup AND both sides of the
    # within-order pair join — uncached, the corpus-grain distinct
    # (scan + exchange) re-runs three times (r11 before-plan: 3 parquet
    # scans of lineitem; after: one, then cached reads)
    po = li.select(
        F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")
    ).distinct()
    po = scoped_persist(po)
    deg = po.groupBy("p").agg(F.count("*").cast("long").alias("d"))
    b = po.select(F.col("p").alias("pb"), F.col("o").alias("o2"))
    inter = (
        po.join(b, (F.col("o2") == F.col("o")) & (F.col("pb") > F.col("p")))
        .groupBy(F.col("p").alias("pa"), "pb")
        .agg(F.count("*").cast("long").alias("i"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("db"))
    return (
        inter.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.col("i").alias("n_shared"),
            F.expr("CAST((i * 10000) DIV (da + db - i) AS BIGINT)")
            .alias("jaccard_fx"),
        )
        .orderBy(F.col("jaccard_fx").desc(), "pa", "pb")
        .limit(_JN_TOPK)
    )


# ---------------------------------------------------------------------------
# q_join_interval_allen — Allen's interval-algebra relation census
# ---------------------------------------------------------------------------

_ALLEN_CASE = """CASE
  WHEN ps = s AND pe = e THEN 'equals'
  WHEN pe < s THEN 'precedes'
  WHEN pe = s THEN 'meets'
  WHEN ps < s AND s < pe AND pe < e THEN 'overlaps'
  WHEN ps < s AND pe = e THEN 'finished_by'
  WHEN ps < s AND pe > e THEN 'contains'
  WHEN ps = s AND pe < e THEN 'starts'
  WHEN ps = s AND pe > e THEN 'started_by'
  WHEN ps > s AND pe < e THEN 'during'
  WHEN ps > s AND pe = e THEN 'finishes'
  WHEN s < ps AND ps < e AND e < pe THEN 'overlapped_by'
  WHEN ps = e THEN 'met_by'
  WHEN ps > e THEN 'preceded_by'
  ELSE 'other' END"""


@query(
    "q_join_interval_allen",
    oracle=f"""
WITH iv AS (
  SELECT o.o_custkey, o.o_orderkey,
         CAST(o.o_orderdate AS TIMESTAMP) AS s,
         MAX(CAST(l.l_shipdate AS TIMESTAMP)) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3
),
seq AS (
  SELECT o_custkey, s, e,
         lag(s) OVER w AS ps, lag(e) OVER w AS pe
  FROM iv
  WINDOW w AS (PARTITION BY o_custkey ORDER BY s, o_orderkey)
)
SELECT {_ALLEN_CASE} AS relation,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE ps IS NOT NULL
GROUP BY 1
ORDER BY relation
""",
)
def q_join_interval_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra census over each customer's consecutive
    order fulfillment windows [orderdate, last shipdate]: classify every
    adjacent pair of intervals into the 13 Allen relations (precedes /
    meets / overlaps / starts / during / finishes / equals and their
    inverses) — the temporal-join vocabulary interval reasoning engines
    expose, here as a DISTRIBUTION diagnostic (how often does the next
    order start before the previous finished shipping?). Consecutive
    pairs come from lag() over the per-customer timeline — the linear
    sorted-neighborhood form of an interval self-join — and every
    comparison is µs-exact timestamp equality/order, identical in both
    engines.

    Scale shape: one order-grain rollup (max shipdate per order, map-
    side combine), one window partitioned by customer (parallel range
    sort; per-customer sequences are short), one relation-grain rollup.
    No interval pair table forms; the classifying CASE is a shared SQL
    literal in both engines."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "o_orderkey", F.col("o_orderdate").alias("s"))
        .agg(F.max("l_shipdate").alias("e"))
    )
    w = Window.partitionBy("o_custkey").orderBy("s", "o_orderkey")
    seq = iv.select(
        "o_custkey",
        "s",
        "e",
        F.lag("s").over(w).alias("ps"),
        F.lag("e").over(w).alias("pe"),
    ).filter(F.col("ps").isNotNull())
    return (
        seq.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# q_sample_class_balanced — md5-ranked balanced downsample
# ---------------------------------------------------------------------------


@query(
    "q_sample_class_balanced",
    oracle="""
WITH meta AS (
  SELECT CAST(MIN(c) AS BIGINT) AS n_min FROM (
    SELECT count(*) AS c FROM events GROUP BY event_type
  )
),
ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5('bal:' || CAST(event_id AS VARCHAR)), event_id
         ) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
  FROM events
)
SELECT event_type,
       any_value(n_total) AS n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM ranked
WHERE rn <= (SELECT n_min FROM meta)
GROUP BY event_type
ORDER BY event_type
""",
)
def q_sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling — every event type keeps exactly
    n_min rows (the minority-class count), selected by md5 rank so the
    sample is content-keyed, partitioning-invariant, and reproducible
    in any engine (the q_sample_stratified discipline applied to the
    CLASS-IMBALANCE case every classifier-training pipeline hits). The
    id_checksum pins the exact membership, not just the counts.

    Scale shape: one count rollup for the minority size (broadcast
    1-row frame), one row_number window partitioned by class ordered by
    md5 — a parallel per-class top-n_min, the standard distributed
    balanced-sampling recipe. At extreme imbalance the window sort of
    the majority class is the ceiling; a two-phase threshold-estimate
    refinement would cut it, documented as the 100-TB escalation."""
    ev = load_table(spark, sf_dir, "events")
    n_min = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .agg(F.min("c").cast("long").alias("n_min"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("event_id").cast("string"))),
        "event_id",
    )
    wt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wt).cast("long").alias("n_total"),
    )
    return (
        ranked.crossJoin(F.broadcast(n_min))
        .filter(F.col("rn") <= F.col("n_min"))
        .groupBy("event_type")
        .agg(
            F.first("n_total").alias("n_total"),
            F.count("*").cast("long").alias("n_kept"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_events_cuped — CUPED variance-reduced uplift
# ---------------------------------------------------------------------------


@query(
    "q_events_cuped",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS grp,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post
  FROM events GROUP BY 1, 2
),
theta AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) * SUM(pre * post) - SUM(pre) * SUM(post)
              AS BIGINT) AS num,
         CAST(count(*) * SUM(pre * pre) - SUM(pre) * SUM(pre)
              AS BIGINT) AS den
  FROM per_user
),
grps AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(pre) AS BIGINT) AS s_pre,
         CAST(SUM(post) AS BIGINT) AS s_post
  FROM per_user GROUP BY grp
)
SELECT t.grp AS treatment,
       t.n_g AS n_users,
       CAST((t.s_post * 10000) // t.n_g AS BIGINT) AS mean_post_fx,
       CAST((t.s_post * 10000) // t.n_g
            - ((SELECT num * 10000 // NULLIF(den, 0) FROM theta)
               * ((t.s_pre * 10000) // t.n_g
                  - (SELECT (SUM(pre) * 10000) // count(*) FROM per_user)))
              // 10000
            AS BIGINT) AS mean_adj_fx
FROM grps t
ORDER BY treatment
""",
)
def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) variance
    reduction — the industry-standard uplift estimator: per-user
    pre-period spend (days 1–15) is the covariate, θ = cov(pre, post) /
    var(pre) from exact integer sums (n·Σxy − ΣxΣy over n·Σx² − (Σx)²),
    and each arm reports mean(post) and the ADJUSTED mean(post) −
    θ·(mean(pre) − grand mean(pre)), all in fixed-point BIGINT with one
    deterministic integer division per step (identical order of
    operations in both engines). θ's denominator n·Σpre²−(Σpre)² is
    NULLIF-guarded in BOTH engines (r7 advisor): constant pre-period
    spend makes var(pre) = 0, where unguarded Spark DIV returns NULL
    but DuckDB // errors — the guard makes both emit NULL adjusted
    means for that (covariate-free) degenerate case. Completes the experimentation family
    (diff-in-diff, propensity matching, permutation test) with the
    covariate-adjustment axis.

    Scale shape: one user-grain rollup with conditional sums (map-side
    combine), then THREE scalar aggregates over user-cardinality rows
    (θ numerator/denominator, grand mean, per-arm sums) — nothing wider
    than the user table shuffles. Magnitudes: per-user integer spend
    ≤ ~3·10⁴, so n·Σx² stays under 2⁶³ through ~sf10 (documented)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy(
        "user_id", (F.col("user_id") % 2).cast("long").alias("grp")
    ).agg(
        F.sum(
            F.when(F.col("ts") < cut, F.floor("value").cast("long"))
            .otherwise(F.lit(0))
        ).cast("long").alias("pre"),
        F.sum(
            F.when(F.col("ts") >= cut, F.floor("value").cast("long"))
            .otherwise(F.lit(0))
        ).cast("long").alias("post"),
    )
    theta = per_user.agg(
        F.expr(
            "CAST(count(*) * SUM(pre * post) - SUM(pre) * SUM(post)"
            " AS BIGINT)"
        ).alias("num"),
        F.expr(
            "CAST(count(*) * SUM(pre * pre) - SUM(pre) * SUM(pre)"
            " AS BIGINT)"
        ).alias("den"),
        F.expr("CAST((SUM(pre) * 10000) DIV count(*) AS BIGINT)")
        .alias("grand_pre_fx"),
    )
    grps = per_user.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("pre").cast("long").alias("s_pre"),
        F.sum("post").cast("long").alias("s_post"),
    )
    return (
        grps.crossJoin(F.broadcast(theta))
        .select(
            F.col("grp").alias("treatment"),
            F.col("n_g").alias("n_users"),
            F.expr("CAST((s_post * 10000) DIV n_g AS BIGINT)")
            .alias("mean_post_fx"),
            F.expr(
                "CAST((s_post * 10000) DIV n_g"
                " - ((num * 10000 DIV NULLIF(den, 0))"
                "    * ((s_pre * 10000) DIV n_g - grand_pre_fx))"
                "   DIV 10000 AS BIGINT)"
            ).alias("mean_adj_fx"),
        )
        .orderBy("treatment")
    )


# ---------------------------------------------------------------------------
# q_multimodal_vad_runs — hysteresis activity detection + run-length encoding
# ---------------------------------------------------------------------------

_VAD_HI = 8000   # activation threshold (frame energy)
_VAD_LO = 4000   # deactivation threshold (hysteresis band)


@query(
    "q_multimodal_vad_runs",
    oracle=f"""
WITH frames AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS channel, f.f AS frame_no,
         CAST(list_sum(list_transform(range(8),
           i -> (ord(substr(rpad(text, 64, ' '), f.f * 8 + i + 1, 1)) - 96)
                * (ord(substr(rpad(text, 64, ' '), f.f * 8 + i + 1, 1)) - 96)))
           AS BIGINT) AS energy
  FROM documents, (SELECT unnest(range(8)) AS f) f
),
marked AS (
  SELECT doc_id, channel, frame_no, energy,
         CASE WHEN energy > {_VAD_HI} THEN 1
              WHEN energy <= {_VAD_LO} THEN 0 END AS marker
  FROM frames
),
st AS (
  SELECT doc_id, channel, frame_no,
         coalesce(last_value(marker IGNORE NULLS)
                  OVER (PARTITION BY doc_id ORDER BY frame_no), 0) AS active
  FROM marked
),
runs AS (
  SELECT doc_id, channel, frame_no, active,
         CASE WHEN active = 1 AND coalesce(lag(active)
              OVER (PARTITION BY doc_id ORDER BY frame_no), 0) = 0
              THEN 1 ELSE 0 END AS run_start
  FROM st
),
seg AS (
  SELECT doc_id, channel, active,
         SUM(run_start) OVER (PARTITION BY doc_id ORDER BY frame_no) AS seg_id
  FROM runs
),
seg_len AS (
  SELECT doc_id, channel, seg_id, CAST(count(*) AS BIGINT) AS run_len
  FROM seg WHERE active = 1 GROUP BY doc_id, channel, seg_id
)
SELECT channel,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_active_docs,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(SUM(run_len) AS BIGINT) AS total_active_frames,
       CAST(MAX(run_len) AS BIGINT) AS max_run_len
FROM seg_len
GROUP BY channel
ORDER BY channel
""",
)
def q_multimodal_vad_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection-shaped segmentation over blob payloads:
    each document's first 64 bytes form 8 energy frames (Σ(byte−96)²),
    a HYSTERESIS gate (activate above 8000, deactivate at/below 4000 —
    the two-threshold Schmitt trigger every VAD/shot-segmenter uses to
    suppress flicker) yields the active state as forward-fill of the
    last decisive frame (last_value IGNORE NULLS — no per-row recursion
    needed), and active stretches are RUN-LENGTH encoded via the
    run-start prefix-sum trick. Per channel: active docs, run count,
    total active frames, longest run. Complements q_multimodal_frame_*
    (pointwise energies) and shot-boundary (cut detection) with the
    stateful segmentation axis, all in exact integers.

    Scale shape: a bounded 8× frame explode (projection), three
    windows ALL partitioned by doc_id with the same ordering (one
    exchange, frames-per-doc fixed at 8), then a (doc, seg) rollup and
    a channel rollup — corpus read once, no UDF, no pair table."""
    d = load_table(spark, sf_dir, "documents")
    # r11 (guide §1.2 per-task work): stage the decode as doc-grain
    # ARRAYS — decode the 64 payload bytes once per document, fold the
    # 8 frame energies over slices of that array, THEN explode. The old
    # form exploded first and re-evaluated ascii(substring(rpad(...)))
    # 16× per frame row (128 rpad+substring+ascii per doc through the
    # interpreted HOF path); this computes 64, once, at corpus grain.
    # Energy per frame is the identical Σ(byte−96)² integer (oracle
    # re-verified at sf0.01/sf0.1); the window stages are untouched.
    frames = d.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("channel"),
        F.expr(
            "transform(sequence(0, 7), f -> CAST(aggregate("
            " transform(sequence(0, 7),"
            "       i -> ascii(substring(rpad(text, 64, ' '),"
            "            f * 8 + i + 1, 1)) - 96),"
            " CAST(0 AS BIGINT), (a, x) -> a + x * x) AS BIGINT))"
        ).alias("energies"),
    ).select(
        "doc_id",
        "channel",
        F.posexplode("energies").alias("frame_no", "energy"),
    )
    marked = frames.select(
        "doc_id",
        "channel",
        "frame_no",
        F.when(F.col("energy") > _VAD_HI, 1)
        .when(F.col("energy") <= _VAD_LO, 0)
        .alias("marker"),
    )
    wd = Window.partitionBy("doc_id").orderBy("frame_no")
    st = marked.select(
        "doc_id",
        "channel",
        "frame_no",
        F.coalesce(
            F.last("marker", ignorenulls=True).over(wd), F.lit(0)
        ).alias("active"),
    )
    runs = st.select(
        "doc_id",
        "channel",
        "frame_no",
        "active",
        F.when(
            (F.col("active") == 1)
            & (F.coalesce(F.lag("active").over(wd), F.lit(0)) == 0),
            1,
        ).otherwise(0).alias("run_start"),
    )
    seg = runs.select(
        "doc_id",
        "channel",
        "active",
        F.sum("run_start").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("seg_id"),
    )
    seg_len = (
        seg.filter(F.col("active") == 1)
        .groupBy("doc_id", "channel", "seg_id")
        .agg(F.count("*").cast("long").alias("run_len"))
    )
    return (
        seg_len.groupBy("channel")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_active_docs"),
            F.count("*").cast("long").alias("n_runs"),
            F.sum("run_len").cast("long").alias("total_active_frames"),
            F.max("run_len").cast("long").alias("max_run_len"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q_text_char_trigram_perplexity — char-LM surprisal quality scoring
# ---------------------------------------------------------------------------


@query(
    "q_text_char_trigram_perplexity",
    oracle="""
WITH tri AS (
  SELECT doc_id, lang,
         substr(lower(substr(text, 1, 64)), i.i + 1, 3) AS g
  FROM documents,
       (SELECT unnest(range(62)) AS i) i
  WHERE length(substr(lower(substr(text, 1, 64)), i.i + 1, 3)) = 3
),
vocab AS (
  SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY g
),
total AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM tri),
scored AS (
  SELECT t.doc_id, t.lang,
         CAST(length(bin((SELECT tot FROM total) // v.cnt)) - 1
              AS BIGINT) AS surprisal
  FROM tri t JOIN vocab v ON v.g = t.g
),
per_doc AS (
  SELECT doc_id, lang,
         CAST((SUM(surprisal) * 10000) // count(*) AS BIGINT) AS score_fx
  FROM scored GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_fx) // count(*) AS BIGINT) AS mean_score_fx,
       CAST(MAX(score_fx) AS BIGINT) AS max_score_fx
FROM per_doc
GROUP BY lang
ORDER BY lang
""",
)
def q_text_char_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language-model surprisal — the classic cheap
    perplexity proxy for corpus quality scoring (gibberish and
    wrong-language text sits in rare trigrams; fluent text in common
    ones): corpus-wide trigram counts form the LM, each occurrence
    scores ⌊log₂(total/count)⌋ bits via the EXACT integer idiom
    length(bin(total DIV cnt)) − 1 (no float log — both engines emit
    identical bits), per-doc mean bits is one fixed-point division, and
    languages roll up mean/max. Complements q_text_quality (shape
    heuristics), q_text_lm_unigram (word-level) and q_text_rarity with
    the character-level LM axis robust to tokenization.

    Scale shape: a bounded 62× trigram explode (projection over the
    64-char prefix), a trigram-grain rollup (vocabulary is charset³ —
    bounded, broadcastable), a broadcast join of counts back onto
    occurrences, then doc- and lang-grain rollups — corpus read once,
    everything downstream of the explode is vocabulary- or doc-grain."""
    d = load_table(spark, sf_dir, "documents")
    tri = (
        d.select(
            "doc_id",
            "lang",
            F.lower(F.substring("text", 1, 64)).alias("head"),
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "filter(transform(sequence(0, 61),"
                    " i -> substring(head, i + 1, 3)),"
                    " g -> length(g) = 3)"
                )
            ).alias("g"),
        )
    )
    vocab = tri.groupBy("g").agg(F.count("*").cast("long").alias("cnt"))
    total = tri.agg(F.count("*").cast("long").alias("tot"))
    scored = (
        tri.join(F.broadcast(vocab), "g")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "lang",
            F.expr(
                "CAST(length(bin(tot DIV cnt)) - 1 AS BIGINT)"
            ).alias("surprisal"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.expr(
            "CAST((SUM(surprisal) * 10000) DIV count(*) AS BIGINT)"
        ).alias("score_fx")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("CAST(SUM(score_fx) DIV count(*) AS BIGINT)")
            .alias("mean_score_fx"),
            F.max("score_fx").cast("long").alias("max_score_fx"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_select_kcenter_greedy — farthest-first traversal (k-center coreset)
# ---------------------------------------------------------------------------

_KC_K = 5  # centers to select (seed + 4 greedy rounds)

_KC_D2_SQL = """CAST(list_sum(list_transform(range(64),
  i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1]))) AS BIGINT)"""


def _kc_oracle() -> str:
    parts = [
        """WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5)
                     AS BIGINT)) AS ax
  FROM embeddings
),
c0 AS (SELECT vec_id, ax FROM fx WHERE vec_id = 0),
d1 AS (
  SELECT f.vec_id, f.ax,
         """ + _KC_D2_SQL.format(a="f.ax", b="c.ax") + """ AS d2min
  FROM fx f, c0 c
)"""
    ]
    for s in range(1, _KC_K):
        parts.append(f""",
c{s} AS (SELECT vec_id, ax, d2min FROM d{s}
         ORDER BY d2min DESC, vec_id LIMIT 1)""")
        if s < _KC_K - 1:
            parts.append(f""",
d{s + 1} AS (
  SELECT d.vec_id, d.ax,
         least(d.d2min, {_KC_D2_SQL.format(a='d.ax', b='c.ax')}) AS d2min
  FROM d{s} d, c{s} c
)""")
    selects = ["SELECT 0 AS step, vec_id, CAST(0 AS BIGINT) AS radius_fx FROM c0"]
    for s in range(1, _KC_K):
        selects.append(
            f"SELECT {s} AS step, vec_id, d2min AS radius_fx FROM c{s}"
        )
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY step")
    return "".join(parts)


@query("q_select_kcenter_greedy", oracle=_kc_oracle())
def q_select_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center selection (farthest-first traversal / Gonzalez)
    over the embedding corpus — the 2-approximation coreset every
    diversity-sampling and prototype-selection pipeline uses: seed at
    vec_id 0, then 4 rounds of "pick the point farthest from everything
    selected so far", reporting each pick's coverage radius (its
    min-distance² to the earlier centers). Complements q_select_mmr_diverse
    (relevance-diversity tradeoff) with the pure max-min coverage
    objective. Embeddings enter fixed-point once (⌊v·10⁶+0.5⌋); every
    distance and comparison is exact BIGINT; ties break by vec_id in
    both engines.

    Scale shape (r7 advisor rewrite): the running min-distance frame is
    UPDATED incrementally (least(d2min, dist-to-new-center)) — the
    standard distributed Gonzalez recipe. The former all-lazy loop
    re-derived each round's frame from the previous one TWICE (base +
    its own limit(1)) without persisting it, so execution re-evaluated
    prior rounds ~2^k times; now each round PERSISTS its min-distance
    frame, materializes it through the round's TakeOrdered(1) pick
    (one 67-value row collected to the driver — the bounded-scalar
    driver-state pattern of operators/selection.py), unpersists the
    superseded frame, and folds the collected center back in as a
    literal zip_with argument (outside any lambda — the r7 HOF-guard
    shape). Total work is exactly O(k·n): each round is one cached-
    corpus scan + projection; no pair table; all loop caches are
    released before return, so nothing leaks into the shared session.
    The result is a 5-row driver-local frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    fx = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        ).alias("ax"),
    )
    c0 = fx.filter(F.col("vec_id") == 0)
    d = fx.crossJoin(
        F.broadcast(c0.select(F.col("ax").alias("cx")))
    ).select(
        "vec_id",
        "ax",
        F.expr(
            "CAST(aggregate(zip_with(ax, cx, (p, q) -> (p - q) * (p - q)),"
            " CAST(0 AS BIGINT), (a, t) -> a + t) AS BIGINT)"
        ).alias("d2min"),
    )
    rows = []
    prev = None
    for s in range(1, _KC_K):
        d = d.persist()
        picked = d.orderBy(F.col("d2min").desc(), "vec_id").limit(1).collect()
        if not picked:
            # degenerate fixture (no vec_id 0 seed row → d is empty) —
            # the oracle's c0/c{s} CTEs are all empty too; emit nothing
            prev = d
            break
        if s == 1:
            # the seed row exists exactly when d is non-empty
            rows.append((0, 0, 0))
        top = picked[0]
        if prev is not None:
            prev.unpersist()
        prev = d
        rows.append((s, int(top["vec_id"]), int(top["d2min"])))
        if s < _KC_K - 1:
            center = "array(" + ", ".join(
                f"CAST({int(v)} AS BIGINT)" for v in top["ax"]
            ) + ")"
            d = d.select(
                "vec_id",
                "ax",
                F.expr(
                    f"least(d2min,"
                    f" CAST(aggregate(zip_with(ax, {center},"
                    " (p, q) -> (p - q) * (p - q)),"
                    " CAST(0 AS BIGINT), (a, t) -> a + t) AS BIGINT))"
                ).alias("d2min"),
            )
    if prev is not None:
        prev.unpersist()
    return spark.createDataFrame(
        rows, "step BIGINT, vec_id BIGINT, radius_fx BIGINT"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# q_alloc_set_cover_greedy — greedy maximum-coverage supplier selection
# ---------------------------------------------------------------------------

_SC_ROUNDS = 5


def _sc_oracle() -> str:
    parts = [
        """WITH sp AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
)"""
    ]
    prev_cov = None
    for r in range(1, _SC_ROUNDS + 1):
        anti = (
            f"sp"
            if prev_cov is None
            else f"(SELECT s, p FROM sp WHERE p NOT IN (SELECT p FROM {prev_cov}))"
        )
        parts.append(f""",
gain{r} AS MATERIALIZED (
  SELECT s, CAST(count(*) AS BIGINT) AS gain
  FROM {anti} GROUP BY s
),
pick{r} AS MATERIALIZED (
  SELECT s, gain FROM gain{r} ORDER BY gain DESC, s LIMIT 1
),
cov{r} AS MATERIALIZED (
  SELECT DISTINCT p FROM sp WHERE s IN (SELECT s FROM pick{r})
  {"" if prev_cov is None else f"UNION SELECT p FROM {prev_cov}"}
)""")
        prev_cov = f"cov{r}"
    selects = [
        f"SELECT {r} AS step, s AS suppkey, gain AS n_new_covered FROM pick{r}"
        for r in range(1, _SC_ROUNDS + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY step")
    return "".join(parts)


@query("q_alloc_set_cover_greedy", oracle=_sc_oracle())
def q_alloc_set_cover_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection — pick 5 suppliers that
    together cover the most distinct parts, one at a time by marginal
    gain (the (1−1/e)-approximation every vendor-consolidation /
    test-suite-minimization / data-source-selection problem uses).
    Completes the allocation family (knapsack = budgeted value,
    D'Hondt/Huntington–Hill = proportional shares, stable matching =
    two-sided preferences) with the SUBMODULAR-coverage objective. Ties
    break by supplier key; marginal gains are exact counts, so the
    oracle reproduces every pick.

    Scale shape (r7 advisor rewrite; r10-verdict latency pass): the
    classic distributed greedy-coverage round loop — each of the 5
    fixed rounds is one BROADCAST anti-join of the (supplier, part)
    edge table against the covered-part set (covered ≤ rounds ×
    parts-per-supplier, a scale-free bound — TPC-H ships ~80 parts per
    supplier at every sf — so it broadcasts at any corpus size; the
    edge table never re-shuffles), one supplier-grain combinable
    count, and one TakeOrdered(1) whose single row is collected to the
    driver (the bounded-scalar driver-state pattern of
    operators/selection.py) so the pick folds back in as a LITERAL —
    no lingering 1-row caches. The covered-part set is persisted per
    round, materialized through the next round's pick, and the
    superseded round's cache is unpersisted eagerly; the edge table
    and final covered set are released before return, so nothing leaks
    into the shared session. The DISTINCT edge table itself is the
    silver table a production pipeline materializes — memoized via
    ``io.memo_parquet`` (built once per fixture, read back by every
    greedy pass), so repeated runs pay 5 shallow cached-scan jobs, not
    the corpus-grain distinct shuffle. Work is O(rounds · |edges|); no
    pair table, no corpus² anywhere. The result is a 5-row
    driver-local frame.

    Negative result (r11, measured — PLANS.md §set-cover): the 5
    driver-synchronized jobs are INHERENT. No band-local kernel
    exists (coverage couples every supplier through shared parts — no
    blocking key), and the lazy-greedy candidate-pool cut (collect
    top-M by initial gain, greedy driver-side, certify
    pick_gain ≥ g1[M+1]) cannot certify here: measured pick gains
    682→586 sit BELOW the ~591 mean of 1000 near-homogeneous supplier
    gains, so a certifying pool needs ~70% of all suppliers — not
    bounded. Incremental gain-decrement maintenance and pre-
    partitioning by s were also built and timed: both LOSE (5.7 s /
    5.4 s vs 5.0 s baseline warm) because per-job scheduling overhead,
    not aggregate volume, is the local floor; the memo cut is what
    lands 5.0 → 3.4 s warm."""
    from highload_kafka_streams_spark.io import memo_parquet

    def _build_edges(s: SparkSession) -> DataFrame:
        li = load_table(s, sf_dir, "lineitem")
        return li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).distinct()

    sp = memo_parquet(
        spark, sf_dir, "supplier_part_edges", ("lineitem",), _build_edges, "1"
    ).persist()
    covered = None
    prev_cov = None  # superseded round's cache, dropped once unused
    rows = []
    for r in range(1, _SC_ROUNDS + 1):
        remaining = (
            sp
            if covered is None
            else sp.join(F.broadcast(covered), "p", "left_anti")
        )
        gain = remaining.groupBy("s").agg(
            F.count("*").cast("long").alias("gain")
        )
        # ONE job per round: this collect materializes the (lazy)
        # covered cache as a side effect of the anti-join, so the
        # previous round's cache only becomes droppable here — fusing
        # the old per-round count() job into the pick (5 jobs total,
        # was 9)
        picked = gain.orderBy(F.col("gain").desc(), "s").limit(1).collect()
        if prev_cov is not None:
            prev_cov.unpersist()
            prev_cov = None
        if not picked:
            # every part already covered — the oracle's pick{r} CTE is
            # empty for this and all later rounds, so stop emitting too
            break
        top = picked[0]
        rows.append((r, int(top["s"]), int(top["gain"])))
        if r < _SC_ROUNDS:
            new_cov = (
                sp.filter(F.col("s") == F.lit(int(top["s"])))
                .select("p")
            )
            prev_cov = covered
            covered = (
                new_cov
                if covered is None
                else covered.unionByName(new_cov).distinct()
            ).persist()
    for handle in (covered, prev_cov):
        if handle is not None:
            handle.unpersist()
    sp.unpersist()
    return spark.createDataFrame(
        rows, "step BIGINT, suppkey BIGINT, n_new_covered BIGINT"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# q_agg_median_of_means — robust mean estimation, mergeable buckets
# ---------------------------------------------------------------------------

_MOM_BUCKETS = 16


@query(
    "q_agg_median_of_means",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         (strpos('0123456789abcdef',
                 substr(md5('mom:' || CAST(event_id AS VARCHAR)), 1, 1)) - 1)
           % {_MOM_BUCKETS} AS bucket,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_fx
  FROM events
),
bm AS (
  SELECT event_type, bucket,
         CAST((SUM(v_fx) * 100) // count(*) AS BIGINT) AS mean_fx,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(SUM(v_fx) AS BIGINT) AS s_b
  FROM b GROUP BY event_type, bucket
),
med AS (
  SELECT event_type, mean_fx AS mom_fx FROM (
    SELECT event_type, mean_fx,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY mean_fx, bucket) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nb
    FROM bm
  ) WHERE rn = (nb + 1) // 2
)
SELECT bm.event_type,
       CAST(SUM(bm.n_b) AS BIGINT) AS n,
       CAST((SUM(bm.s_b) * 100) // SUM(bm.n_b) AS BIGINT) AS mean_fx,
       any_value(med.mom_fx) AS mom_fx
FROM bm JOIN med ON med.event_type = bm.event_type
GROUP BY bm.event_type
ORDER BY bm.event_type
""",
)
def q_agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimator per event type — the
    standard heavy-tail-robust aggregator (and the only sub-Gaussian
    mean estimator you can build from PLAIN aggregations): rows hash
    into 16 md5 buckets, each bucket contributes its mean, the estimate
    is the (lower) median of the 16 bucket means. Reported next to the
    plain mean so outlier-driven divergence is visible. The md5 bucket
    rule is content-keyed and engine-portable; every mean is one
    fixed-point division; the median picks rank ⌈nb/2⌉ under a total
    order (mean, bucket) — fully deterministic in both engines.

    Scale shape: ONE map-side-combinable rollup at (type, bucket) grain
    (16 cells per type regardless of corpus size — the estimator is
    MERGEABLE across partitions by construction, unlike an exact
    median), then window + join at 16-row grain. This is the shape that
    survives 100 TB: no sort of raw values, no quantile state."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("mom:"), F.col("event_id").cast("string")
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            % _MOM_BUCKETS
        ).alias("bucket"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("v_fx"),
    )
    bm = b.groupBy("event_type", "bucket").agg(
        F.expr("CAST((SUM(v_fx) * 100) DIV count(*) AS BIGINT)")
        .alias("mean_fx"),
        F.count("*").cast("long").alias("n_b"),
        F.sum("v_fx").cast("long").alias("s_b"),
    )
    wt = Window.partitionBy("event_type")
    med = (
        bm.select(
            "event_type",
            "mean_fx",
            F.row_number().over(wt.orderBy("mean_fx", "bucket")).alias("rn"),
            F.count("*").over(wt).alias("nb"),
        )
        .filter(F.col("rn") == F.expr("(nb + 1) DIV 2"))
        .select("event_type", F.col("mean_fx").alias("mom_fx"))
    )
    return (
        bm.groupBy("event_type")
        .agg(
            F.sum("n_b").cast("long").alias("n"),
            F.expr("CAST((SUM(s_b) * 100) DIV SUM(n_b) AS BIGINT)")
            .alias("mean_fx"),
        )
        .join(F.broadcast(med), "event_type")
        .select("event_type", "n", "mean_fx", "mom_fx")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_time_ljung_box — portmanteau whiteness test over the ACF ladder
# ---------------------------------------------------------------------------

_LB_LAGS = 10   # lags 1..10 pooled
_LB_DAYS = 30   # calendar-bounded daily spine
# chi-square 0.95 critical value for df=10, milli-fixed (standard table)
_LB_CRIT_MILLI = 18307


@query(
    "q_time_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
           // 86400 AS x,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(x) AS d0 FROM daily),
spine AS (
  SELECT ti.event_type, ti.idx, coalesce(d.v, 0) AS v
  FROM (SELECT t.event_type, i.i AS idx
        FROM (SELECT DISTINCT event_type FROM daily) t,
             (SELECT unnest(range({_LB_DAYS})) AS i) i) ti
  LEFT JOIN (SELECT event_type, x - d0.d0 AS idx, v FROM daily, d0) d
    ON d.event_type = ti.event_type AND d.idx = ti.idx
),
m AS (
  SELECT event_type, CAST(SUM(v) // {_LB_DAYS} AS BIGINT) AS mu
  FROM spine GROUP BY 1
),
d AS (
  SELECT s.event_type, s.idx, s.v - m.mu AS d
  FROM spine s JOIN m ON m.event_type = s.event_type
),
den AS (
  SELECT event_type, CAST(SUM(d * d) AS BIGINT) AS den
  FROM d GROUP BY 1
),
num AS (
  SELECT a.event_type, l.lag, CAST(SUM(a.d * b.d) AS BIGINT) AS num
  FROM (SELECT unnest(range(1, {_LB_LAGS + 1})) AS lag) l
  JOIN d a ON TRUE
  JOIN d b ON b.event_type = a.event_type AND b.idx = a.idx + l.lag
  GROUP BY 1, 2
),
terms AS (
  SELECT n.event_type,
         CAST((n.num * n.num * 1000)
              // (den.den * den.den * ({_LB_DAYS} - n.lag)) AS BIGINT)
           AS t_milli
  FROM num n JOIN den ON den.event_type = n.event_type
)
SELECT event_type,
       CAST({_LB_DAYS} AS BIGINT) AS n_days,
       CAST({_LB_LAGS} AS BIGINT) AS n_lags,
       CAST({_LB_DAYS} * ({_LB_DAYS} + 2) * SUM(t_milli) AS BIGINT)
         AS q_milli,
       CASE WHEN {_LB_DAYS} * ({_LB_DAYS} + 2) * SUM(t_milli)
                 > {_LB_CRIT_MILLI} THEN 1 ELSE 0 END AS autocorrelated
FROM terms
GROUP BY event_type
ORDER BY event_type
""",
)
def q_time_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type — POOLS the first 10
    autocorrelations of the daily count series into one whiteness
    statistic Q = n(n+2)·Σ r_k²/(n−k), the standard residual-diagnostic
    companion to the per-lag ACF (q_time_acf_ladder answers "how big is
    lag k"; this answers "is the series white at all", which is what a
    forecasting-residual audit actually needs). One truncated integer
    mean centers each series; numerators/denominator are exact BIGINT;
    each pooled term is one integer division (num_k²·10³ //
    (den²·(n−k))), and the χ²₁₀ 0.95 critical value enters milli-fixed
    from the standard table. Magnitude bound: den² ≤ ~10¹⁴ at 10× the
    fixture density — inside int64 with the 10³ scale (documented).

    Scale shape: the corpus appears once (type×day rollup, map-side
    combine); everything downstream — spine, centering, the lag
    alignment self-join — is calendar-bounded (30 rows/type), so the
    statistic costs the same at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr(
            "CAST(unix_micros(date_trunc('day', ts)) DIV 86400000000"
            " AS BIGINT)"
        ).alias("x"),
    ).agg(F.count("*").cast("long").alias("v"))
    d0 = daily.agg(F.min("x").alias("d0"))
    types = daily.select("event_type").distinct()
    spine = (
        types.crossJoin(
            F.broadcast(
                spark.range(_LB_DAYS).select(F.col("id").alias("idx"))
            )
        )
        .crossJoin(F.broadcast(d0))
        .join(
            daily.withColumnRenamed("event_type", "et2"),
            (F.col("et2") == F.col("event_type"))
            & (F.col("x") == F.col("idx") + F.col("d0")),
            "left",
        )
        .select("event_type", "idx", F.coalesce("v", F.lit(0)).alias("v"))
    )
    m = spine.groupBy("event_type").agg(
        F.expr(f"CAST(SUM(v) DIV {_LB_DAYS} AS BIGINT)").alias("mu")
    )
    d = scoped_persist(
        spine.join(F.broadcast(m), "event_type")
        .select("event_type", "idx", (F.col("v") - F.col("mu")).alias("d"))
    )
    den = d.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).cast("long").alias("den")
    )
    b = d.select(
        F.col("event_type").alias("b_et"),
        F.col("idx").alias("b_idx"),
        F.col("d").alias("b_d"),
    )
    num = (
        d.select(
            "event_type",
            "idx",
            "d",
            F.explode(F.sequence(F.lit(1), F.lit(_LB_LAGS))).alias("lag"),
        )
        .join(
            b,
            (F.col("b_et") == F.col("event_type"))
            & (F.col("b_idx") == F.col("idx") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("d") * F.col("b_d")).cast("long").alias("num"))
    )
    terms = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        F.expr(
            f"CAST((num * num * 1000)"
            f" DIV (den * den * ({_LB_DAYS} - lag)) AS BIGINT)"
        ).alias("t_milli"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.lit(_LB_DAYS).cast("long").alias("n_days"),
            F.lit(_LB_LAGS).cast("long").alias("n_lags"),
            F.expr(
                f"CAST({_LB_DAYS} * ({_LB_DAYS} + 2) * SUM(t_milli)"
                f" AS BIGINT)"
            ).alias("q_milli"),
            F.expr(
                f"CASE WHEN {_LB_DAYS} * ({_LB_DAYS} + 2) * SUM(t_milli)"
                f" > {_LB_CRIT_MILLI} THEN 1 ELSE 0 END"
            ).alias("autocorrelated"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_eval_two_proportion_z — conversion-rate z-test (exact cross-multiplied)
# ---------------------------------------------------------------------------


@query(
    "q_eval_two_proportion_z",
    oracle="""
WITH arms AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS grp,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS BIGINT) AS c2
  FROM arms
),
core AS (
  SELECT n1, c1, n2, c2,
         (c1 * n2 - c2 * n1) * (c1 * n2 - c2 * n1) * (n1 + n2) AS lhs,
         NULLIF(n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2), 0) AS rhs
  FROM agg
)
SELECT n1, c1, n2, c2,
       CAST((c1 * 10000) // n1 AS BIGINT) AS p1_fx,
       CAST((c2 * 10000) // n2 AS BIGINT) AS p2_fx,
       CAST((lhs // rhs) * 10000 + (lhs % rhs) * 10000 // rhs
            AS BIGINT) AS z2_fx,
       CASE WHEN 625 * lhs > 2401 * rhs
            THEN 1 ELSE 0 END AS significant
FROM core
""",
)
def q_eval_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (did the user purchase
    at all) between the parity arms — the PROPORTION counterpart of the
    experimentation family's mean-based readouts (CUPED/diff-in-diff
    compare spend; conversion-rate A/B tests are the more common
    launch gate). The pooled-variance z² collapses to one exact
    integer inequality: 625·(c₁n₂−c₂n₁)²·N > 2401·n₁n₂·C·(N−C) — the
    reduced form of z² > 1.96² (38416/10⁴ = 2401/625 in lowest terms;
    r7 advisor: the unreduced 10⁴ factor cost 16× of int64 headroom
    for nothing). z²_fx (10⁻⁴ units) is the same ratio via an EXACT
    two-step division, (L DIV R)·10⁴ + (L mod R)·10⁴ DIV R ≡
    ⌊L·10⁴/R⌋ with L·10⁴ never materialized — the remainder term
    needs only R·10⁴ < 2⁶³. Magnitude bound: worst case (c ≈ n/2)
    puts 625·L ≤ 625·n⁵/16 inside int64 through n ≈ 27k users (~27×
    this fixture's user count; beyond that, pre-divide both sides by
    gcd-free n factors or split the comparison the same two-step way).
    R is NULLIF-guarded in both engines (all-convert / none-convert
    arms give zero pooled variance → NULL z², flag 0).

    Scale shape: one user-grain rollup (max-flag, map-side combine),
    then a single 4-sum scalar aggregate — nothing wider than the user
    table shuffles, output is one row."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.expr("CAST(user_id % 2 AS BIGINT)").alias("grp"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("converted"),
    )
    agg = arms.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("long").alias("c1"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("long").alias("c2"),
    )
    core = agg.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.expr(
            "(c1 * n2 - c2 * n1) * (c1 * n2 - c2 * n1) * (n1 + n2)"
        ).alias("lhs"),
        F.expr(
            "NULLIF(n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2), 0)"
        ).alias("rhs"),
    )
    return core.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.expr("CAST((c1 * 10000) DIV n1 AS BIGINT)").alias("p1_fx"),
        F.expr("CAST((c2 * 10000) DIV n2 AS BIGINT)").alias("p2_fx"),
        F.expr(
            "CAST((lhs DIV rhs) * 10000 + (lhs % rhs) * 10000 DIV rhs"
            " AS BIGINT)"
        ).alias("z2_fx"),
        F.expr(
            "CASE WHEN 625 * lhs > 2401 * rhs THEN 1 ELSE 0 END"
        ).alias("significant"),
    )
