"""Round-6 continuation (c) — key discovery, EWMA signals, robust
location estimation, and audio-style frame scanning.

Same house rules as round6b (SURVEY.md §5): exact BIGINT arithmetic or
one deterministic fixed-point step per emitted value; `DIV`/`//`
integer division only; deterministic total orders under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# Candidate keys audited by q_dq_uniqueness_profile:
# (name, table, [columns]) — true keys, a near-key, and a non-key.
_KEY_CANDIDATES = (
    ("orders[o_orderkey]", "orders", ("o_orderkey",)),
    ("orders[o_custkey]", "orders", ("o_custkey",)),
    ("orders[o_custkey,o_orderdate]", "orders", ("o_custkey", "o_orderdate")),
    ("lineitem[l_orderkey,l_linenumber]", "lineitem",
     ("l_orderkey", "l_linenumber")),
    ("events[event_id]", "events", ("event_id",)),
)


def _uniq_oracle() -> str:
    parts = []
    for name, tbl, cols in _KEY_CANDIDATES:
        tup = ", ".join(cols)
        parts.append(
            f"""
SELECT '{name}' AS candidate,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT ({tup})) AS BIGINT) AS n_distinct,
       CAST((count(DISTINCT ({tup})) * 1000000) // count(*) AS BIGINT)
         AS uniqueness_fx,
       count(DISTINCT ({tup})) = count(*) AS is_key
FROM {tbl}"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY candidate"


@query("q_dq_uniqueness_profile", oracle=_uniq_oracle())
def q_dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery — uniqueness ratio
    distinct(cols)/count(*) for a set of single- and multi-column
    candidates spanning true keys, a near-key and a non-key, with the
    is_key verdict. The key-side twin of
    q_dq_functional_dependency (FDs audit determinant→dependent;
    this audits determinant→row): together they are the schema-
    profiling pair every catalog/DQ tool runs first.

    Scale shape: each candidate is one count-distinct aggregate —
    Catalyst's two-phase distinct with map-side partials (multi-column
    candidates group on the column tuple, so the shuffle key is the
    tuple hash); every audit collapses to ONE row before the union.
    No joins, no windows."""
    outs = []
    for name, tbl, cols in _KEY_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        outs.append(
            t.agg(
                F.lit(name).alias("candidate"),
                F.count("*").alias("n_rows"),
                F.countDistinct(*[F.col(c) for c in cols]).alias(
                    "n_distinct"
                ),
            ).select(
                "candidate",
                "n_rows",
                "n_distinct",
                F.expr(
                    "CAST((n_distinct * 1000000) DIV n_rows AS BIGINT)"
                ).alias("uniqueness_fx"),
                (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("candidate")


_EWMA_TAPS = 10  # truncated EWMA window (weights 2^9 .. 2^0)
_EWMA_DENOM = (1 << _EWMA_TAPS) - 1  # 1023


def _ewma_terms_sql(lag_fn: str = "lag") -> str:
    """Σ_{k=0..9} lag_k(x)·2^(9−k) as engine-portable SQL."""
    return " + ".join(
        f"{lag_fn}(x, {k}) OVER w * {1 << (_EWMA_TAPS - 1 - k)}"
        for k in range(_EWMA_TAPS)
    )


@query(
    "q_time_ewma_crossover",
    oracle=f"""
WITH s AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'click'
  GROUP BY day
),
r AS (
  SELECT day, x,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(({_ewma_terms_sql()}) // {_EWMA_DENOM} AS BIGINT) AS ewma_c,
         CAST(CAST(SUM(x) OVER (ORDER BY day
                ROWS BETWEEN {_EWMA_TAPS - 1} PRECEDING AND CURRENT ROW)
              AS BIGINT) // {_EWMA_TAPS} AS BIGINT) AS sma_c
  FROM s
  WINDOW w AS (ORDER BY day)
)
SELECT day, x, ewma_c, sma_c, ewma_c > sma_c AS above
FROM r WHERE rn >= {_EWMA_TAPS}
ORDER BY day
""",
)
def q_time_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2, truncated at 10
    taps) vs the 10-day simple moving average, with the crossover
    signal — the trend-following indicator pair that completes the
    q_time_bollinger / q_time_rsi family. The EWMA recurrence is
    UNROLLED into a fixed dot product over ten lag() taps with exact
    power-of-two weights (Σ x_{t−k}·2^{9−k} // 1023): truncating the
    geometric tail at 2⁻¹⁰ makes an inherently recursive smoother
    expressible as a pure window query with zero recursion — and
    bit-identical across engines because the weights and division are
    integers.

    Scale shape: one map-side-combinable daily rollup; the ten taps
    ride ONE ordered window over the calendar-bounded day series (a
    single exchange; the window is day-grain, never event-grain)."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("x"))
    )
    w = Window.orderBy("day")
    ewma_num = None
    for k in range(_EWMA_TAPS):
        term = F.lag("x", k).over(w) * (1 << (_EWMA_TAPS - 1 - k))
        ewma_num = term if ewma_num is None else ewma_num + term
    r = (
        s.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("ewma_num", ewma_num)
        .withColumn(
            "sma_num",
            F.sum("x")
            .over(w.rowsBetween(-(_EWMA_TAPS - 1), Window.currentRow))
            .cast("long"),
        )
    )
    return (
        r.filter(F.col("rn") >= _EWMA_TAPS)
        .select(
            "day",
            "x",
            F.expr(f"CAST(ewma_num DIV {_EWMA_DENOM} AS BIGINT)").alias(
                "ewma_c"
            ),
            F.expr(f"CAST(sma_num DIV {_EWMA_TAPS} AS BIGINT)").alias(
                "sma_c"
            ),
        )
        .withColumn("above", F.col("ewma_c") > F.col("sma_c"))
        .orderBy("day")
    )


@query(
    "q_agg_hodges_lehmann",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, d
),
walsh AS (
  SELECT a.event_type, a.x + b.x AS w2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d <= b.d
),
ranked AS (
  SELECT event_type, w2,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY w2)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM walsh
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN w2 END) // 2 AS BIGINT)
         AS hl_c
FROM ranked
GROUP BY event_type
ORDER BY event_type
""",
)
def q_agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimator per event type — the median
    of all Walsh averages (xᵢ+xⱼ)/2 over the daily series, the
    rank-based robust center with ~95% Gaussian efficiency (vs the
    plain median's 64%) that pairs naturally with q_agg_mann_whitney
    (it inverts the same signed-rank statistic). Kept exact: the
    pairwise sums stay doubled integers, the median is the
    lower-median row_number pick (the q_select_grouped_median
    convention), and the final halving is one integer division.

    Scale shape: the Walsh self-join is DAY-grain (calendar-bounded —
    at any fact volume the pair table is |days|²/2 per group, built
    from an equi-join on the group key); the fact table itself is
    touched once by the daily rollup. For unbounded-cardinality
    groups the estimator would switch to the iterative
    selection recipe (operators/selection.py) over the implicit pair
    distribution."""
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
    a, b = daily.alias("a"), daily.alias("b")
    walsh = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") <= F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.x") + F.col("b.x")).alias("w2"),
    )
    wp = Window.partitionBy("event_type").orderBy("w2")
    wc = Window.partitionBy("event_type")
    ranked = walsh.withColumn(
        "rn", F.row_number().over(wp).cast("long")
    ).withColumn("n", F.count("*").over(wc).cast("long"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n_pairs"),
            F.expr(
                "CAST(max(CASE WHEN rn = (n + 1) DIV 2 THEN w2 END)"
                " DIV 2 AS BIGINT)"
            ).alias("hl_c"),
        )
        .orderBy("event_type")
    )


_FRAME_LEN = 32  # frame length (chars standing in for samples)
_FRAME_HOP = 16  # 50% overlap


@query(
    "q_multimodal_frame_energy",
    oracle=f"""
WITH framed AS (
  SELECT doc_id, f.f AS frame,
         CAST((len(text) - {_FRAME_LEN}) // {_FRAME_HOP} + 1 AS BIGINT)
           AS n_frames,
         CAST(list_sum(list_transform(range({_FRAME_LEN}),
           i -> ord(substr(text, {_FRAME_HOP} * f.f + i + 1, 1))))
           AS BIGINT) AS energy
  FROM documents,
       (SELECT unnest(range(64)) AS f) f
  WHERE len(text) >= {_FRAME_LEN}
    AND f.f <= (len(text) - {_FRAME_LEN}) // {_FRAME_HOP}
)
SELECT doc_id, frame, n_frames, energy
FROM framed
ORDER BY energy DESC, doc_id, frame
LIMIT 10
""",
)
def q_multimodal_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style frame scan over the multimodal payload: split each
    payload into 32-sample frames with 50% overlap (hop 16), compute
    per-frame energy (sum of sample magnitudes — here the payload
    convention's char codes), and surface the 10 loudest frames —
    the windowing primitive under VAD, loudness normalization and
    spectral feature extraction, expressed relationally so the frame
    *bookkeeping* (boundaries, overlap, per-doc frame counts) is
    value-hash-checked. In production only the inner energy kernel
    moves into the decode mapInPandas stage; the frame-explode join
    shape stays.

    Determinism: frame boundaries are integer arithmetic on the
    payload length; energies are exact code-point sums; the top-10
    rides the total order (energy DESC, doc_id, frame).

    Scale shape: frames explode ×(len/hop) per document but carry
    only (id, int, int) — and the explode is generated from a bounded
    sequence, not a join; the top-10 is a TakeOrderedAndProject
    (per-partition heads, no global sort)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _FRAME_LEN
    )
    framed = d.select(
        "doc_id",
        F.expr(
            f"(length(text) - {_FRAME_LEN}) DIV {_FRAME_HOP} + 1"
        ).alias("n_frames"),
        F.explode(
            F.expr(
                f"sequence(0, (length(text) - {_FRAME_LEN}) DIV {_FRAME_HOP})"
            )
        ).alias("frame"),
        F.col("text"),
    ).select(
        "doc_id",
        F.col("frame").cast("long").alias("frame"),
        "n_frames",
        F.expr(
            f"CAST(aggregate(transform(sequence(1, {_FRAME_LEN}),"
            f" i -> ascii(substring(text, {_FRAME_HOP} * frame + i, 1))),"
            " 0, (a, x) -> a + x) AS BIGINT)"
        ).alias("energy"),
    )
    return framed.orderBy(
        F.desc("energy"), "doc_id", "frame"
    ).limit(10)


@query(
    "q_events_markov_stationary",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
c AS (
  SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
),
rt AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY src
),
p AS (
  SELECT c.src, c.dst, (c.n * 1000000) // rt.tot AS p_fx
  FROM c JOIN rt ON rt.src = c.src
),
k AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS k FROM p),
v0 AS (
  SELECT src AS node, 1000000 // (SELECT k FROM k) AS v
  FROM (SELECT DISTINCT src FROM p)
),
v1 AS (
  SELECT p.dst AS node,
         CAST(SUM(v0.v * p.p_fx) // 1000000 AS BIGINT) AS v
  FROM v0 JOIN p ON p.src = v0.node GROUP BY p.dst
),
v2 AS (
  SELECT p.dst AS node,
         CAST(SUM(v1.v * p.p_fx) // 1000000 AS BIGINT) AS v
  FROM v1 JOIN p ON p.src = v1.node GROUP BY p.dst
)
SELECT v1.node AS event_type,
       CAST(v1.v AS BIGINT) AS p1_fx,
       CAST(v2.v AS BIGINT) AS p2_fx
FROM v1 JOIN v2 ON v1.node = v2.node
ORDER BY event_type
""",
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power steps toward the stationary distribution of the
    per-user event-transition Markov chain: start uniform, apply the
    row-normalized transition matrix twice — where the chain's mass
    settles, the prediction q_events_transitions' raw matrix feeds.
    The trajectory (π₁, π₂) is reported, pinning both steps.

    Determinism: transition probabilities are integer 1e6 ratios;
    each propagation is Σ v·p // 1e6 over exact BIGINTs — no doubles.

    Scale shape: ONE corpus pass (the per-user lag window on the
    standard user shuffle) collapses to the |types|²-row matrix;
    both power steps are joins over that bounded matrix, trivially
    broadcastable forever."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev", F.lag("event_type").over(wu))
    c = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("n"))
    )
    rt = c.groupBy("src").agg(F.sum("n").alias("tot"))
    p = scoped_persist(
        c.join(rt, "src").select(
            "src", "dst", F.expr("(n * 1000000) DIV tot").alias("p_fx")
        )
    )
    k = p.select("src").distinct().agg(F.count("*").alias("k"))
    v0 = (
        p.select("src")
        .distinct()
        .crossJoin(F.broadcast(k))
        .select(F.col("src").alias("node"), F.expr("1000000 DIV k").alias("v"))
    )

    def step(v: DataFrame) -> DataFrame:
        return (
            v.join(p, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.expr("CAST(SUM(v * p_fx) DIV 1000000 AS BIGINT)").alias(
                    "v"
                )
            )
            .withColumnRenamed("node2", "node")
        )

    v1 = scoped_persist(step(v0))
    v2 = step(v1)
    return (
        v1.withColumnRenamed("v", "p1_fx")
        .join(v2.withColumnRenamed("v", "p2_fx"), "node")
        .select(F.col("node").alias("event_type"), "p1_fx", "p2_fx")
        .orderBy("event_type")
    )


_BOOT_B = 200  # bootstrap resamples


@query(
    "q_agg_bootstrap_ci",
    oracle=f"""
WITH s AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'click'
  GROUP BY 1
),
hx AS (
  SELECT b.b, s.d, s.x,
         strpos('0123456789abcdef',
                substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':'
                           || CAST(s.d AS VARCHAR)), 1, 1)) - 1 AS h
  FROM s, (SELECT unnest(range(1, {_BOOT_B} + 1)) AS b) b
),
w AS (
  SELECT b, d, x,
         CASE
           WHEN h < 6 THEN 0 WHEN h < 12 THEN 1 WHEN h < 15 THEN 2
           ELSE 3 END AS w
  FROM hx
),
means AS (
  SELECT b,
         (CAST(SUM(w * x) AS BIGINT) * 10000)
           // CAST(SUM(w) AS BIGINT) AS mean_fx
  FROM w GROUP BY b HAVING SUM(w) > 0
),
ranked AS (
  SELECT mean_fx,
         CAST(row_number() OVER (ORDER BY mean_fx, b) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS b_eff
  FROM means
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         (CAST(SUM(x) AS BIGINT) * 10000) // count(*) AS mean_obs_fx
  FROM s
)
SELECT obs.n_days, obs.mean_obs_fx,
       CAST(max(r.b_eff) AS BIGINT) AS b_eff,
       CAST(max(CASE WHEN r.rn = (max_b.b_eff * 25 + 999) // 1000
                     THEN r.mean_fx END) AS BIGINT) AS ci_lo_fx,
       CAST(max(CASE WHEN r.rn = (max_b.b_eff * 975) // 1000
                     THEN r.mean_fx END) AS BIGINT) AS ci_hi_fx
FROM ranked r, obs, (SELECT max(b_eff) AS b_eff FROM ranked) max_b
GROUP BY obs.n_days, obs.mean_obs_fx
""",
)
def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic online bootstrap 95% CI for the daily mean click
    revenue: 200 resamples whose per-day multiplicities are a
    pseudo-Poisson(1) draw from the portable md5 family (hex digit →
    weight 0/1/2/3 with probabilities 6⁄16, 6⁄16, 3⁄16, 1⁄16 — the
    Oza–Russell online-bagging approximation), so BOTH engines
    materialize the *identical* resample set and the order-statistic
    CI is value-hash-checked exactly. The uncertainty-quantification
    primitive the point estimators here (means, medians, H-L) lack —
    and the same md5-weight trick q_eval_permutation_test uses for
    its null, applied to resampling.

    Determinism: resample means are (Σw·x)·1e4 // Σw over exact
    integers; CI endpoints are row_number picks at ranks
    ⌈0.025·B_eff⌉ and ⌊0.975·B_eff⌋ with ties broken by replica id.

    Scale shape: one corpus pass to the day grain; the B× explode is
    calendar-bounded (B·|days| rows) and each resample collapses via
    one grouped sum. The rank window runs over the B-row mean table."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.expr("CAST(unix_micros(ts) AS BIGINT) DIV 86400000000").alias(
                "d"
            ),
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").alias("x"))
    )
    bs = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    w = (
        s.crossJoin(F.broadcast(bs))
        .withColumn(
            "h",
            F.expr(
                "CAST(conv(substring(md5(concat('boot:', CAST(b AS STRING),"
                " ':', CAST(d AS STRING))), 1, 1), 16, 10) AS BIGINT)"
            ),
        )
        .select(
            "b",
            "x",
            F.expr(
                "CASE WHEN h < 6 THEN 0 WHEN h < 12 THEN 1"
                " WHEN h < 15 THEN 2 ELSE 3 END"
            ).alias("w"),
        )
    )
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("sw_x"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "b",
            F.expr(
                "(CAST(sw_x AS BIGINT) * 10000) DIV CAST(sw AS BIGINT)"
            ).alias("mean_fx"),
        )
    )
    wr = Window.orderBy("mean_fx", "b")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(wr).cast("long")
    ).withColumn("b_eff", F.count("*").over(wall).cast("long"))
    obs = s.agg(
        F.count("*").alias("n_days"),
        F.expr("(CAST(SUM(x) AS BIGINT) * 10000) DIV count(*)").alias(
            "mean_obs_fx"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "mean_obs_fx")
        .agg(
            F.max("b_eff").alias("b_eff"),
            F.max(
                F.expr(
                    "CASE WHEN rn = (b_eff * 25 + 999) DIV 1000"
                    " THEN mean_fx END"
                )
            ).alias("ci_lo_fx"),
            F.max(
                F.expr(
                    "CASE WHEN rn = (b_eff * 975) DIV 1000"
                    " THEN mean_fx END"
                )
            ).alias("ci_hi_fx"),
        )
        .select(
            "n_days", "mean_obs_fx", "b_eff", "ci_lo_fx", "ci_hi_fx"
        )
    )


_WALK_STEPS = 3


def _walk_oracle() -> str:
    from highload_kafka_streams_spark.llm.dedup import _AFFINITY_PAIRS_SQL

    steps = """,
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM base
  UNION ALL SELECT doc_b, doc_a FROM base
),
w0 AS (SELECT DISTINCT u AS start, u AS cur FROM sym)
"""
    for t in range(1, _WALK_STEPS + 1):
        steps += f""",
w{t} AS (
  SELECT start, arg_min(v, h) AS cur
  FROM (
    SELECT w{t - 1}.start, sym.v,
           md5('rw:{t}:' || CAST(w{t - 1}.start AS VARCHAR) || ':'
               || CAST(sym.v AS VARCHAR)) AS h
    FROM w{t - 1} JOIN sym ON sym.u = w{t - 1}.cur
  )
  GROUP BY start
)
"""
    return (
        _AFFINITY_PAIRS_SQL
        + steps
        + f"""
SELECT cur AS endpoint, CAST(count(*) AS BIGINT) AS n_walks
FROM w{_WALK_STEPS}
GROUP BY cur
ORDER BY n_walks DESC, endpoint
LIMIT 10
"""
    )


@query("q_graph_random_walks", oracle=_walk_oracle())
def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk sampling over the document affinity
    graph: one 3-step walk from every node, each step choosing the
    neighbor with the minimum md5('rw:step:start:neighbor') — the
    node2vec/DeepWalk sampling primitive expressed so the ENTIRE walk
    set is reproducible cross-engine (the md5-family trick applied to
    graph traversal), reported as the top-10 walk-attracting endpoints.
    High-degree "hub" docs absorb walks — the same signal PageRank
    ranks, measured by sampling instead of linear algebra.

    Determinism: the per-(walk, step) argmin over 128-bit md5 values
    has no realistic ties; ordering of the final top-10 is total
    (count DESC, endpoint).

    Scale shape: each step is ONE equi-join frontier⋈edges on the
    current node plus a per-walk min_by aggregate (map-side
    combinable) — walk count stays |nodes| forever, never multiplies;
    3 steps = 3 bounded join rounds, the q_graph_pagerank_fx iteration
    shape with a sampling payload. The edge list is built once and
    persisted; r9: edges read from the memoized ``_shingle_pair_base``
    affinity band (built once per fixture, shared by every graph
    consumer)."""
    from highload_kafka_streams_spark.llm.dedup import _affinity_pairs

    pairs = _affinity_pairs(spark, sf_dir)
    sym = scoped_persist(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
    )
    frontier = sym.select(F.col("u").alias("start")).distinct().select(
        "start", F.col("start").alias("cur")
    )
    for t in range(1, _WALK_STEPS + 1):
        stepped = frontier.join(sym, F.col("cur") == F.col("u")).select(
            "start",
            "v",
            F.md5(
                F.concat(
                    F.lit(f"rw:{t}:"),
                    F.col("start").cast("string"),
                    F.lit(":"),
                    F.col("v").cast("string"),
                )
            ).alias("h"),
        )
        frontier = stepped.groupBy("start").agg(
            F.expr("min_by(v, h)").alias("cur")
        )
    return (
        frontier.groupBy(F.col("cur").alias("endpoint"))
        .agg(F.count("*").alias("n_walks"))
        .orderBy(F.desc("n_walks"), "endpoint")
        .limit(10)
    )


# Shapley attribution: channels (non-conversion event types) and the
# factorial weights |S|!·(n−1−|S|)! for n = 4, scaled by 4! = 24.
_SHAP_CHANNELS = ("click", "error", "signup", "view")
_SHAP_FACT = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|!·(3−|S|)!


def _shap_combos() -> list[tuple[str, int, int, int]]:
    """(channel, mask_without, mask_with, weight) for every channel and
    every subset S of the other channels — 4 × 8 = 32 rows, generated
    once in Python and interpolated as literals into BOTH engines."""
    rows = []
    n = len(_SHAP_CHANNELS)
    for ci, ch in enumerate(_SHAP_CHANNELS):
        others = [i for i in range(n) if i != ci]
        for sub in range(1 << (n - 1)):
            mask = sum(1 << others[j] for j in range(n - 1) if sub >> j & 1)
            size = bin(mask).count("1")
            rows.append((ch, mask, mask | (1 << ci), _SHAP_FACT[size]))
    return rows


def _shap_oracle() -> str:
    combos = ",\n    ".join(
        f"('{c}', {s}, {sc}, {w})" for c, s, sc, w in _shap_combos()
    )
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{c}' THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(_SHAP_CHANNELS)
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST({bits} AS BIGINT) AS mask,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
),
v AS (
  SELECT mask,
         CAST((SUM(conv) * 1000000) // count(*) AS BIGINT) AS v_fx
  FROM per_user GROUP BY mask
),
combos(channel, m_wo, m_w, w) AS (
  VALUES
    {combos}
)
SELECT c.channel,
       CAST(SUM(c.w * (COALESCE(vw.v_fx, 0) - COALESCE(vo.v_fx, 0)))
            AS BIGINT) AS phi24_fx
FROM combos c
LEFT JOIN v vw ON vw.mask = c.m_w
LEFT JOIN v vo ON vo.mask = c.m_wo
GROUP BY c.channel
ORDER BY c.channel
"""


@query("q_events_shapley_attribution", oracle=_shap_oracle())
def q_events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: each user's touched
    channel set is a 4-bit mask, the characteristic function
    v(S) = conversion rate of users with exactly mask S, and each
    channel's Shapley value φ_c = Σ_S |S|!(n−1−|S|)!/n!·[v(S∪c)−v(S)]
    is computed over the FULL subset lattice — tractable because the
    lattice is 2^|channels| (16 masks), not user-sized. Reported as
    φ·4!·1e6 so everything stays integer. The game-theoretically
    fair alternative to q_events_attribution's positional rules, and
    the same airport-game machinery as q_alloc_airport_shapley
    applied to marketing attribution.

    Determinism: masks and factorial weights are integers; v(S) is
    one 1e6 integer ratio; empty subsets contribute v = 0 (COALESCE,
    documented convention both engines).

    Scale shape: ONE corpus pass (per-user mask/conversion rollup,
    map-side combinable) collapses to ≤16 mask rows; the Shapley sum
    is a 32-row literal table joined twice against those 16 rows —
    bounded forever, broadcast trivially."""
    ev = load_table(spark, sf_dir, "events")
    bits = None
    for i, c in enumerate(_SHAP_CHANNELS):
        b = F.max(
            F.when(F.col("event_type") == c, 1 << i).otherwise(0)
        )
        bits = b if bits is None else bits + b
    per_user = ev.groupBy("user_id").agg(
        bits.cast("long").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    v = per_user.groupBy("mask").agg(
        F.expr("CAST((SUM(conv) * 1000000) DIV count(*) AS BIGINT)").alias(
            "v_fx"
        )
    )
    combos = spark.createDataFrame(
        _shap_combos(), "channel string, m_wo long, m_w long, w long"
    )
    vw = v.select(F.col("mask").alias("m_w"), F.col("v_fx").alias("vw_fx"))
    vo = v.select(F.col("mask").alias("m_wo"), F.col("v_fx").alias("vo_fx"))
    return (
        combos.join(F.broadcast(vw), "m_w", "left")
        .join(F.broadcast(vo), "m_wo", "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("w")
                * (
                    F.coalesce("vw_fx", F.lit(0))
                    - F.coalesce("vo_fx", F.lit(0))
                )
            ).alias("phi24_fx")
        )
        .orderBy("channel")
    )


import math as _math

# Transcendental constants, fixed-pointed ONCE at module import and
# interpolated as literals into BOTH engines (the q_time_periodogram
# discipline): Euler–Mascheroni γ, π² and the Gumbel 100-period
# return-level factor −ln(−ln(1−1/100)).
_GAMMA_6 = int(_math.floor(0.5772156649015329 * 1e6))  # 577215
_PI2_4 = int(_math.floor(_math.pi * _math.pi * 1e4))  # 98696
_Y100_6 = int(_math.floor(-_math.log(-_math.log(1 - 1 / 100)) * 1e6))


@query(
    "q_agg_gumbel_maxima",
    oracle=f"""
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders GROUP BY 1
),
blocks AS (
  SELECT d // 7 AS wk, CAST(max(v) // 1000 AS BIGINT) AS x
  FROM daily GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM blocks
),
fit AS (
  SELECT n, sx,
         (sx * 1000) // n AS mean_fx3,
         (((n * sxx - sx * sx) // (n * (n - 1))) * 6 * 10000000000)
           // {_PI2_4} AS sigma2_fx6
  FROM m
)
SELECT n AS n_blocks, mean_fx3,
       CAST(FLOOR(SQRT(CAST(sigma2_fx6 AS DOUBLE))) AS BIGINT)
         AS sigma_fx3,
       mean_fx3
         - ({_GAMMA_6} * CAST(FLOOR(SQRT(CAST(sigma2_fx6 AS DOUBLE)))
                              AS BIGINT)) // 1000000 AS mu_fx3,
       mean_fx3
         - ({_GAMMA_6} * CAST(FLOOR(SQRT(CAST(sigma2_fx6 AS DOUBLE)))
                              AS BIGINT)) // 1000000
         + ({_Y100_6} * CAST(FLOOR(SQRT(CAST(sigma2_fx6 AS DOUBLE)))
                             AS BIGINT)) // 1000000 AS rl100_fx3
FROM fit
""",
)
def q_agg_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis via the block-maxima method: weekly
    maxima of daily order revenue, Gumbel fit by method of moments
    (σ̂ = s·√6/π, μ̂ = x̄ − γσ̂), and the 100-week return level
    μ̂ + σ̂·(−ln(−ln(0.99))) — the tail-risk question ("what's the
    worst week we should budget for?") that the mean/percentile
    family cannot answer because it extrapolates BEYOND the observed
    maximum. Complements q_events_hill_tail_index (power-law tails)
    with the light-tailed EVT branch.

    Determinism: the only irrational inputs are three constants
    (γ, π², the return-level factor), fixed-pointed ONCE in Python
    and interpolated as literals into both engines; the single
    runtime sqrt is IEEE-correctly-rounded on an exact (< 2⁵³)
    integer-valued double, hence bit-identical cross-engine, and
    immediately floored back to an integer (the isqrt idiom — first
    use in this repo, documented here as safe).

    Scale shape: two map-side-combinable rollups (day, then week) and
    one 1-row moment aggregate; nothing after the first shuffle is
    data-proportional."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.expr(
                "CAST(unix_micros(o_orderdate) AS BIGINT) DIV 86400000000"
            ).alias("d"),
            F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)").alias("w"),
        )
        .groupBy("d")
        .agg(F.sum("w").alias("v"))
    )
    blocks = (
        daily.select(F.expr("d DIV 7").alias("wk"), "v")
        .groupBy("wk")
        .agg(F.expr("CAST(max(v) DIV 1000 AS BIGINT)").alias("x"))
    )
    m = blocks.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fit = m.select(
        "n",
        F.expr("(sx * 1000) DIV n").alias("mean_fx3"),
        F.expr(
            f"(((n * sxx - sx * sx) DIV (n * (n - 1))) * 6 * 10000000000)"
            f" DIV {_PI2_4}"
        ).alias("sigma2_fx6"),
    )
    sigma = (
        "CAST(FLOOR(SQRT(CAST(sigma2_fx6 AS DOUBLE))) AS BIGINT)"
    )
    return fit.select(
        F.col("n").alias("n_blocks"),
        "mean_fx3",
        F.expr(sigma).alias("sigma_fx3"),
        F.expr(
            f"mean_fx3 - ({_GAMMA_6} * {sigma}) DIV 1000000"
        ).alias("mu_fx3"),
        F.expr(
            f"mean_fx3 - ({_GAMMA_6} * {sigma}) DIV 1000000"
            f" + ({_Y100_6} * {sigma}) DIV 1000000"
        ).alias("rl100_fx3"),
    )


_CODE_CHARS = r"[{}();=<>\[\]_]"  # RE2-safe class, identical both engines


@query(
    "q_text_code_detection",
    oracle=f"""
WITH scored AS (
  SELECT source, n_chars,
         CAST(len(regexp_extract_all(text, '{_CODE_CHARS}')) AS BIGINT)
           AS n_sym,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_dig
  FROM documents
),
flagged AS (
  SELECT source, n_chars, n_sym, n_dig,
         n_sym * 20 >= n_chars AS is_code
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code_docs,
       CAST((SUM(CASE WHEN is_code THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS code_ppm,
       CAST((SUM(n_sym) * 1000000) // SUM(n_chars) AS BIGINT)
         AS sym_ppm,
       CAST((SUM(n_dig) * 1000000) // SUM(n_chars) AS BIGINT)
         AS digit_ppm
FROM flagged
GROUP BY source
ORDER BY source
""",
)
def q_text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing heuristic per source: symbol density
    ({};()=<>[]_), digit density, and a ≥5% symbol-ratio code flag —
    the cheap router every pre-training pipeline runs before choosing
    a tokenizer / quality model per modality of TEXT (code and prose
    need different filters). Alongside q_text_langid (natural-language
    routing) this completes the two routing axes. The flag is the
    cross-multiplied n_sym·20 ≥ n_chars — no division per row.

    Scale shape: regexp counts are pure projection (no explode, the
    match arrays never become rows); one (source)-keyed rollup with
    map-side combine. Integer ppm ratios at the end only."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "n_chars",
        F.size(
            F.regexp_extract_all("text", F.lit(_CODE_CHARS), 0)
        ).cast("long").alias("n_sym"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
        .cast("long")
        .alias("n_dig"),
    ).withColumn("is_code", F.col("n_sym") * 20 >= F.col("n_chars"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_code"), 1).otherwise(0))
            .cast("long")
            .alias("n_code_docs"),
            F.expr(
                "CAST((SUM(CASE WHEN is_code THEN 1 ELSE 0 END) * 1000000)"
                " DIV count(*) AS BIGINT)"
            ).alias("code_ppm"),
            F.expr(
                "CAST((SUM(n_sym) * 1000000) DIV SUM(n_chars) AS BIGINT)"
            ).alias("sym_ppm"),
            F.expr(
                "CAST((SUM(n_dig) * 1000000) DIV SUM(n_chars) AS BIGINT)"
            ).alias("digit_ppm"),
        )
        .orderBy("source")
    )


@query(
    "q_multimodal_alignment_audit",
    oracle="""
WITH nrm AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 10000
                           + 0.5) AS BIGINT))) AS BIGINT) AS b
  FROM embeddings
),
j AS (
  SELECT d.doc_id, d.n_chars AS a, nrm.vec_id, nrm.b
  FROM documents d FULL JOIN nrm ON nrm.vec_id = d.doc_id
),
counts AS (
  SELECT CAST(count(*) FILTER (WHERE doc_id IS NOT NULL
                                 AND vec_id IS NOT NULL) AS BIGINT)
           AS n_paired,
         CAST(count(*) FILTER (WHERE vec_id IS NULL) AS BIGINT)
           AS n_doc_only,
         CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT)
           AS n_vec_only
  FROM j
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         CAST(SUM(a * b) AS BIGINT) AS sab,
         CAST(SUM(a * a) AS BIGINT) AS saa,
         CAST(SUM(b * b) AS BIGINT) AS sbb
  FROM j WHERE doc_id IS NOT NULL AND vec_id IS NOT NULL
)
SELECT counts.n_paired, counts.n_doc_only, counts.n_vec_only,
       CAST(FLOOR(CAST(mom.n * mom.sab - mom.sa * mom.sb AS DOUBLE)
             / SQRT(CAST(mom.n * mom.saa - mom.sa * mom.sa AS DOUBLE)
                    * CAST(mom.n * mom.sbb - mom.sb * mom.sb AS DOUBLE))
             * 1000000) AS BIGINT) AS corr_fx
FROM counts, mom
""",
)
def q_multimodal_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal alignment audit between the text table and the
    embedding table: referential coverage (paired / text-only /
    embedding-only counts via one full outer join on the shared id)
    plus the Pearson correlation between document length and embedding
    squared-norm over the paired subset — the sanity panel that
    catches broken embedding backfills (orphan ids) and degenerate
    encoders (norm uncorrelated with content size) before any
    similarity search trusts the vectors.

    Determinism: squared norms are per-element fixed-point integers
    summed order-free; the correlation's five sufficient statistics
    are exact BIGINTs, combined by ONE chain of IEEE
    (correctly-rounded, hence cross-engine-identical) double ops —
    the q_graph_assortativity precedent — then floored at 1e6.

    Scale shape: one full outer hash join on the id (both sides
    shuffle on their natural key — no broadcast of either
    corpus-sized table), two 1-row aggregates after it."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id",
        F.expr(
            "CAST(aggregate(transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 10000"
            " + 0.5) AS BIGINT)), CAST(0 AS BIGINT), (a, v) -> a + v)"
            " AS BIGINT)"
        ).alias("b"),
    )
    j = scoped_persist(
        d.join(nrm, d["doc_id"] == nrm["vec_id"], "full").select(
            "doc_id", F.col("n_chars").alias("a"), "vec_id", "b"
        )
    )
    counts = j.agg(
        F.sum(
            F.when(
                F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_paired"),
        F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_doc_only"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_vec_only"),
    )
    mom = (
        j.filter(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.sum("a").alias("sa"),
            F.sum("b").alias("sb"),
            F.sum(F.col("a") * F.col("b")).alias("sab"),
            F.sum(F.col("a") * F.col("a")).alias("saa"),
            F.sum(F.col("b") * F.col("b")).alias("sbb"),
        )
    )
    return counts.crossJoin(F.broadcast(mom)).select(
        "n_paired",
        "n_doc_only",
        "n_vec_only",
        F.expr(
            "CAST(FLOOR(CAST(n * sab - sa * sb AS DOUBLE)"
            " / SQRT(CAST(n * saa - sa * sa AS DOUBLE)"
            " * CAST(n * sbb - sb * sb AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("corr_fx"),
    )


@query(
    "q_setop_bag_semantics",
    oracle="""
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'),
b AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'O'),
ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
ed AS (SELECT DISTINCT l_partkey FROM a
       EXCEPT SELECT DISTINCT l_partkey FROM b),
id AS (SELECT DISTINCT l_partkey FROM a
       INTERSECT SELECT DISTINCT l_partkey FROM b)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
       (SELECT CAST(count(*) AS BIGINT) FROM ea) AS n_except_all,
       (SELECT CAST(count(*) AS BIGINT) FROM ia) AS n_intersect_all,
       (SELECT CAST(count(*) AS BIGINT) FROM ed) AS n_except_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM id) AS n_intersect_distinct
""",
)
def q_setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — EXCEPT ALL / INTERSECT ALL on the
    part-key multisets of finished vs open lines, contrasted with
    their DISTINCT (set) counterparts in one row. ALL-variants keep
    multiplicities (|A∖B| per key = max(0, m_A−m_B); |A∩B| =
    min(m_A, m_B)), a genuinely different operator than the §2.7
    set ops — reconciliation workloads (inventory counts, ledger
    entries) need the bag behavior, and engines differ here by
    default.

    Scale shape: Spark plans EXCEPT ALL / INTERSECT ALL as a
    count-tagged aggregate + generate (replicate by multiplicity
    difference) over one hash exchange per side — no join explosion;
    the distinct variants are plain two-phase distincts. All six
    counts reduce to one row."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linestatus") == "F").select("l_partkey")
    b = li.filter(F.col("l_linestatus") == "O").select("l_partkey")
    rows = [
        a.agg(F.count("*").alias("v")),
        b.agg(F.count("*").alias("v")),
        a.exceptAll(b).agg(F.count("*").alias("v")),
        a.intersectAll(b).agg(F.count("*").alias("v")),
        a.distinct().exceptAll(b.distinct()).agg(F.count("*").alias("v")),
        a.distinct()
        .intersectAll(b.distinct())
        .agg(F.count("*").alias("v")),
    ]
    names = [
        "n_a",
        "n_b",
        "n_except_all",
        "n_intersect_all",
        "n_except_distinct",
        "n_intersect_distinct",
    ]
    out = rows[0].select(F.col("v").alias(names[0]))
    for nm, r in zip(names[1:], rows[1:]):
        out = out.crossJoin(F.broadcast(r.select(F.col("v").alias(nm))))
    return out


_GAP_BASE_US = 30 * 60 * 1_000_000
_GAP_PURCHASE_US = 60 * 60 * 1_000_000


@query(
    "q_window_session_dynamic_gap",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS t
  FROM events
),
gapped AS (
  SELECT user_id, t,
         t - lag(t) OVER w AS gap,
         lag(event_type) OVER w AS prev_type
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_type)
),
marked AS (
  SELECT user_id, t, gap, prev_type,
         CASE WHEN gap IS NULL THEN 1
              WHEN gap > CASE WHEN prev_type = 'purchase'
                              THEN {_GAP_PURCHASE_US}
                              ELSE {_GAP_BASE_US} END
              THEN 1 ELSE 0 END AS new_s,
         CASE WHEN prev_type = 'purchase'
                   AND gap > {_GAP_BASE_US}
                   AND gap <= {_GAP_PURCHASE_US}
              THEN 1 ELSE 0 END AS extended
  FROM gapped
),
sess AS (
  SELECT user_id,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid,
         t, extended
  FROM marked
),
per_sess AS (
  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
         CAST((max(t) - min(t)) // 1000000 AS BIGINT) AS dur_s
  FROM sess GROUP BY user_id, sid
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST((SUM(n_events) * 10000) // count(*) AS BIGINT)
         AS events_per_session_fx,
       CAST((SUM(dur_s) * 10000) // count(*) AS BIGINT)
         AS avg_dur_s_fx,
       (SELECT CAST(SUM(extended) AS BIGINT) FROM sess) AS n_extended_gaps
FROM per_sess
""",
)
def q_window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC inactivity gap — the gap that
    closes a session depends on the previous event (a purchase holds
    the session open 60 minutes, anything else 30) — the Flink-style
    dynamic session-gap-extractor semantics that fixed-gap session
    windows (§2.5's q_window_session) cannot express. n_extended_gaps
    counts gaps in (30 min, 60 min] after a purchase — exactly the
    sessions a fixed 30-minute gap would have split, pinning that the
    dynamic rule actually fired.

    Determinism: epoch-µs integers; the per-row threshold is a CASE
    over the lagged type; ordering ties break on (t, event_type).

    Scale shape: the standard per-user gaps-and-islands — two stacked
    windows on ONE user_id hash exchange — then a (user, sid) rollup
    and a 1-row summary. Identical cost to the fixed-gap version; the
    dynamic rule is a projection."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("t"),
    )
    wu = Window.partitionBy("user_id").orderBy("t", "event_type")
    gapped = e.select(
        "user_id",
        "t",
        (F.col("t") - F.lag("t").over(wu)).alias("gap"),
        F.lag("event_type").over(wu).alias("prev_type"),
    )
    thr = F.when(
        F.col("prev_type") == "purchase", _GAP_PURCHASE_US
    ).otherwise(_GAP_BASE_US)
    marked = gapped.select(
        "user_id",
        "t",
        F.when(F.col("gap").isNull() | (F.col("gap") > thr), 1)
        .otherwise(0)
        .alias("new_s"),
        F.when(
            (F.col("prev_type") == "purchase")
            & (F.col("gap") > _GAP_BASE_US)
            & (F.col("gap") <= _GAP_PURCHASE_US),
            1,
        )
        .otherwise(0)
        .alias("extended"),
    )
    wuo = Window.partitionBy("user_id").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = scoped_persist(
        marked.withColumn("sid", F.sum("new_s").over(wuo).cast("long"))
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("n_events"),
        F.expr("CAST((max(t) - min(t)) DIV 1000000 AS BIGINT)").alias(
            "dur_s"
        ),
    )
    ext = sess.agg(F.sum("extended").cast("long").alias("n_extended_gaps"))
    return (
        per_sess.agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr(
                "CAST((SUM(n_events) * 10000) DIV count(*) AS BIGINT)"
            ).alias("events_per_session_fx"),
            F.expr(
                "CAST((SUM(dur_s) * 10000) DIV count(*) AS BIGINT)"
            ).alias("avg_dur_s_fx"),
        )
        .crossJoin(F.broadcast(ext))
    )


@query(
    "q_source_json_quarantine",
    oracle="""
SELECT CAST(SUM(CASE WHEN o_orderkey % 11 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quarantined,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN o_orderkey % 11 <> 0
                     THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                END) AS BIGINT) AS good_total_cents
FROM orders
""",
)
def q_source_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON-lines ingestion with a quarantine lane — the
    q_source_csv_quarantine contract on the OTHER text format: orders
    serialized to NDJSON with every o_orderkey ≡ 0 (mod 11) document
    truncated mid-object (the classic partial-write/flush glitch),
    read back with mode=PERMISSIVE + columnNameOfCorruptRecord. The
    oracle derives every count and the parsed-good total from the
    clean parquet plus the corruption rule alone, proving truncated
    documents were quarantined exactly — not dropped, not
    null-coerced. JSON's parser has a different failure surface than
    CSV (structural truncation vs field-level type noise), so both
    lanes deserve their own contract.

    Scale shape: serialize and parse are full-scan streaming passes
    (no shuffle); the verdict is one 1-row aggregate. The SPARK-21610
    contract (corrupt-record column requires a real parse, not a
    cached pruned scan) is honored by aggregating immediately."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from highload_kafka_streams_spark.sources.formats import _SCRATCH

    src = load_table(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('{"o_orderkey": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "o_custkey": '),
        F.col("o_custkey").cast("string"),
        F.lit(', "o_totalprice": '),
        F.col("o_totalprice").cast("string"),
        F.lit("}"),
    )
    lines = src.select(
        F.when(
            F.col("o_orderkey") % 11 == 0,
            F.substring(doc, 1, 20),  # truncated mid-object → malformed
        )
        .otherwise(doc)
        .alias("value")
    )
    path = os.path.join(
        _SCRATCH,
        f"orders_dirty_json_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    lines.write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("_corrupt", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_quarantined"),
        F.count("*").alias("n_total"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"),
            )
        ).alias("good_total_cents"),
    )
