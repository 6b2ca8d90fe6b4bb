"""Event-stream analytics composites over ``events`` — the product-
analytics query shapes a stream processor's consumers actually run
(funnel conversion, cohort retention). Batch-replay forms of streaming
topologies (SURVEY.md §3.4): every query is keyed on event time and
deterministic, so both the DuckDB oracle and a streaming re-execution
agree.

ts parity: ``io.load_table`` reads the ns fixture as µs; the oracle's
``CAST(ts AS TIMESTAMP)`` truncates identically (SURVEY.md §5 hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist


@query(
    "q_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       (c.t_click IS NOT NULL AND p.t_purchase IS NOT NULL
        AND p.t_purchase <= v.t_view + INTERVAL 1 HOUR) AS converted_1h
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel per user (ordered stages, first
    qualifying event per stage, 1-hour conversion flag).

    Each stage is a min-aggregate over a stage-filtered slice joined to
    the previous stage — three narrow shuffles keyed by user_id, which a
    real deployment would co-partition once. The sequential-stage shape
    is the batch twin of a per-key state machine (streaming form:
    ``applyInPandasWithState`` tracking stage per user)."""
    ev = load_table(spark, sf_dir, "events")

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.col("t_click").isNotNull()
                & F.col("t_purchase").isNotNull()
                & (
                    F.col("t_purchase")
                    <= F.col("t_view") + F.expr("INTERVAL 1 HOUR")
                )
            ).alias("converted_1h"),
        )
        .orderBy("user_id")
    )


@query(
    "q_retention_cohort",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day,
                 date_trunc('day', CAST(e.ts AS TIMESTAMP))) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
ORDER BY cohort_day, day_offset
""",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day, counted on
    each later activity day. The firsts table is |users| rows — tiny
    relative to events, so it broadcasts; the only big shuffle is the
    final (cohort_day, day_offset) count-distinct."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day")
    )
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.col("cohort_day")
            ).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q_scd2_intervals",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS state, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state
  FROM events
),
starts AS (
  SELECT user_id, state, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_state IS NULL OR prev_state <> state
),
versioned AS (
  SELECT user_id, state, valid_from,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
           AS version
  FROM starts
)
SELECT user_id, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       version,
       CAST(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
            IS NULL AS BOOLEAN) AS is_current
FROM versioned
ORDER BY user_id, version
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) history build from a
    change stream — the batch materialization of a VERSIONED KTable
    (KS 3.5 VersionedKeyValueStore keeps per-key history; SCD2 is that
    history as [valid_from, valid_to) intervals). Per user: order the
    change events, collapse runs of the unchanged state, emit one
    interval per run with valid_to = next run's start and an is_current
    flag on the open interval.

    Plan: every window partitions on user_id, so there is exactly ONE
    shuffle — the three window passes reuse the same hash partitioning
    (Catalyst plans a single Exchange). Deterministic under ts ties via
    the event_id tie-break. At 100 TB the state table this produces is
    the thing you'd bucket by key (io.write_bucketed_table) so the
    versioned joins read it shuffle-free."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.lag("event_type").over(w_ord).alias("prev_state"),
    )
    starts = ordered.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    ).select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    w_ver = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    versioned = starts.withColumn("version", F.row_number().over(w_ver))
    w_seq = Window.partitionBy("user_id").orderBy("version")
    return (
        versioned.select(
            "user_id",
            "state",
            "valid_from",
            F.lead("valid_from").over(w_seq).alias("valid_to"),
            "version",
            F.lead("valid_from").over(w_seq).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@query(
    "q_events_attribution",
    oracle="""
WITH merged AS (
  SELECT user_id, ts, event_id, NULL::BIGINT AS click_id, 1 AS is_purchase,
         value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, event_id AS click_id, 0 AS is_purchase,
         NULL::DOUBLE AS value
  FROM events WHERE event_type = 'click'
),
carried AS (
  SELECT user_id, ts, event_id, is_purchase, value,
         LAST_VALUE(click_id IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, is_purchase, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS attributed_click
  FROM merged
)
SELECT event_id AS purchase_id, user_id, value AS revenue,
       attributed_click,
       CAST(attributed_click IS NOT NULL AS BOOLEAN) AS attributed
FROM carried
WHERE is_purchase = 1
ORDER BY purchase_id
""",
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent click at-or-before it — the as-of join applied to a
    marketing-analytics shape (KS would build this as a stream-table
    join against a per-key click store). MERGE form, not a range join:
    clicks and purchases are unioned and ONE window pass per user
    carries the last click id forward (clicks sort before same-ts
    purchases so a same-instant click attributes). Linear in
    |clicks|+|purchases|, one shuffle, no |clicks|×|purchases|
    candidate blow-up. Unattributed purchases keep NULL + a flag, so
    conversion coverage falls out of the same pass."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("is_purchase"),
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("is_purchase"),
        F.lit(None).cast("double").alias("value"),
    )
    merged = purchases.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "attributed_click", F.last("click_id", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("is_purchase") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("value").alias("revenue"),
            "attributed_click",
            F.col("attributed_click").isNotNull().alias("attributed"),
        )
        .orderBy("purchase_id")
    )


@query(
    "q_anomaly_zscore",
    oracle="""
WITH framed AS (
  SELECT event_id, user_id, ts, value,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w AS s1,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)
             * CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w AS s2,
         count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT event_id, user_id, value, n,
         s1 / 10000.0 / n AS mu,
         SQRT(GREATEST(
           (s2 / 100000000.0) / n - (s1 / 10000.0 / n) * (s1 / 10000.0 / n),
           0.0)) AS sigma
  FROM framed
)
SELECT event_id, user_id, value, n, mu, sigma,
       CASE WHEN sigma > 0.0 THEN (value - mu) / sigma END AS z,
       CAST(sigma > 0.0 AND abs((value - mu) / sigma) > 3.0 AS BOOLEAN)
         AS is_anomaly
FROM scored
ORDER BY event_id
""",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection — each event scored against its
    user's trailing 20-event window (mean and σ from the SAME pass,
    Welford-free: two fixed-point power sums). The streaming-monitoring
    operator a KS app builds with a WindowStore; here it is one window
    pass over one user_id shuffle.

    Determinism: s1/s2 are exact integer sums (order-free), every
    derived double is a fixed division chain, `sqrt` is IEEE-correctly
    rounded, and σ is clamped at 0 before the root so catastrophic
    cancellation cannot go negative in either engine. The z column is
    NULL for a zero-σ frame (constant values) rather than ±inf —
    inf/NaN never enter the checked output. At 100 TB the same two
    power sums are what the sketch-mergeable per-partition rollup
    carries (cf. q_agg_stats_moments)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    fx = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    framed = ev.select(
        "event_id",
        "user_id",
        "value",
        F.sum(fx).over(w).alias("s1"),
        F.sum(fx * fx).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    mu = F.col("s1") / 10000.0 / F.col("n")
    var = F.greatest(
        (F.col("s2") / 100000000.0) / F.col("n") - mu * mu, F.lit(0.0)
    )
    scored = framed.select(
        "event_id",
        "user_id",
        "value",
        "n",
        mu.alias("mu"),
        F.sqrt(var).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return scored.select(
        "event_id",
        "user_id",
        "value",
        "n",
        "mu",
        "sigma",
        F.when(F.col("sigma") > 0.0, z).alias("z"),
        ((F.col("sigma") > 0.0) & (F.abs(z) > 3.0)).alias("is_anomaly"),
    ).orderBy("event_id")


@query(
    "q_events_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
  FROM trans GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, t.n,
       CAST(t.n AS DOUBLE) / tot.row_total AS p
FROM trans t JOIN tot ON t.prev_type = tot.prev_type
ORDER BY t.prev_type, t.next_type
""",
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-model feature a stream processor derives
    for next-event prediction and anomaly baselines. One user_id window
    pass pairs each event with its predecessor, a 5×5-key aggregate
    counts transitions, and row-normalization divides exact integers
    (deterministic doubles). At 100 TB the lag pass rides the standard
    per-key shuffle and the transition matrix is |types|² rows — tiny
    forever; the broadcast row-total join never touches the event
    stream again."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("row_total")).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@query(
    "q_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id, value, ts,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
),
held AS (
  SELECT user_id,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v_fp,
         CAST(FLOOR(epoch(next_ts)) AS BIGINT)
           - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dur_s
  FROM seq WHERE next_ts IS NOT NULL
)
SELECT user_id,
       CAST(SUM(v_fp * dur_s) AS BIGINT) AS weighted_fp,
       CAST(SUM(dur_s) AS BIGINT) AS total_s,
       (CAST(SUM(v_fp * dur_s) AS BIGINT) / 10000.0)
         / CAST(SUM(dur_s) AS BIGINT) AS twa_value
FROM held
WHERE dur_s > 0
GROUP BY user_id
HAVING CAST(SUM(dur_s) AS BIGINT) > 0
ORDER BY user_id
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per key — the sensor/market-data aggregate
    where each reading counts for how long it was CURRENT, not once per
    sample (a plain average over-weights chatty periods). Each event's
    value is held until the next event (lead), weighted by integer hold
    seconds × fixed-point value — exact integer arithmetic end-to-end,
    one deterministic division at the end.

    Plan: one user_id shuffle shared by the lead pass and the aggregate
    (the groupBy key matches the window partitioning, so Catalyst reuses
    the exchange). This is the changelog-integral a KTable's value
    traces — what 'average price over the session' actually means."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v_fp"),
        F.unix_timestamp("ts").alias("t_s"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("next_s"),
    ).filter(F.col("next_s").isNotNull())
    held = seq.select(
        "user_id", "v_fp", (F.col("next_s") - F.col("t_s")).alias("dur_s")
    ).filter(F.col("dur_s") > 0)
    return (
        held.groupBy("user_id")
        .agg(
            F.sum(F.col("v_fp") * F.col("dur_s")).alias("weighted_fp"),
            F.sum("dur_s").alias("total_s"),
        )
        .filter(F.col("total_s") > 0)
        .select(
            "user_id",
            "weighted_fp",
            "total_s",
            ((F.col("weighted_fp") / 10000.0) / F.col("total_s")).alias(
                "twa_value"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "q_session_stats",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT)
              AS session_id
  FROM marked
),
per_session AS (
  SELECT user_id, session_id,
         min(ts) AS t0, max(ts) AS t1, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT date_trunc('day', t0) AS day,
       count(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CAST(FLOOR(epoch(t1)) AS BIGINT)
                - CAST(FLOOR(epoch(t0)) AS BIGINT)) AS BIGINT)
         AS total_duration_s,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS bounce_rate
FROM per_session
GROUP BY 1
ORDER BY day
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session health report — sessions started, bounce share
    (single-event sessions), and total engaged seconds — the product
    metric the sessionizer exists to feed. Reuses the lag/cumsum
    sessionization idiom (one user_id shuffle), collapses to
    per-session rows, then a tiny day-grain aggregate; the bounce rate
    divides exact integers. Duration uses floored epoch seconds in both
    engines (DuckDB's double→BIGINT cast rounds; Spark floors)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn("session_id", F.sum("is_new").over(w))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1"),
        F.count("*").alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (
        per_session.groupBy(F.date_trunc("day", "t0").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(bounce).alias("n_bounces"),
            F.sum(
                F.unix_timestamp("t1") - F.unix_timestamp("t0")
            ).alias("total_duration_s"),
            (F.sum(bounce).cast("double") / F.count("*")).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@query(
    "q_backlog_sweepline",
    oracle="""
WITH deltas AS (
  SELECT date_trunc('day', o_orderdate) AS day, 1 AS d FROM orders
  UNION ALL
  SELECT date_trunc('day', o_orderdate + INTERVAL 30 DAY) AS day, -1 FROM orders
),
daily AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS net FROM deltas GROUP BY day
)
SELECT day, net,
       CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM daily
ORDER BY day
""",
)
def q_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval (backlog) curve via sweep-line: each order
    contributes +1 at placement and −1 at its 30-day horizon; the daily
    net deltas prefix-sum to 'orders open on each day' — the classic
    how-many-intervals-overlap operator, O(n) where the naive
    day×order containment join is O(n·days).

    Scale shape: the ±1 deltas aggregate to DAY grain map-side first,
    so the global cumulative sum runs over ~2 years of day rows —
    trivially single-partition no matter how many orders exist. (For a
    finer-than-day sweep at 100 TB you'd two-phase the prefix sum:
    per-partition totals, broadcast offsets — the iterative-selection
    module documents that pattern.)"""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    starts = o.select(F.date_trunc("day", "o_orderdate").alias("day"), F.lit(1).alias("d"))
    ends = o.select(
        F.date_trunc("day", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("day"),
        F.lit(-1).alias("d"),
    )
    daily = starts.unionByName(ends).groupBy("day").agg(F.sum("d").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "net", F.sum("net").over(w).alias("open_orders")
    ).orderBy("day")


@query(
    "q_snapshot_diff",
    oracle="""
WITH old_snap AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC,
                              event_id DESC) AS rk
    FROM events WHERE event_id < 5000
  ) WHERE rk = 1
),
new_snap AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC,
                              event_id DESC) AS rk
    FROM events
  ) WHERE rk = 1
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN n.user_id IS NULL THEN 'removed'
            WHEN o.event_type <> n.event_type
              OR CAST(FLOOR(o.value * 10000 + 0.5) AS BIGINT)
                 <> CAST(FLOOR(n.value * 10000 + 0.5) AS BIGINT)
              THEN 'changed'
            ELSE 'unchanged' END AS change,
       o.event_type AS old_type, n.event_type AS new_type
FROM old_snap o
FULL OUTER JOIN new_snap n ON o.user_id = n.user_id
ORDER BY user_id
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation): classify every key as
    added / removed / changed / unchanged between two table versions —
    here the latest-per-key view at an early offset vs now, i.e. the
    diff of two KTable states. This is how a batch system RECOVERS a
    changelog when the source only ships full snapshots (reverse ETL,
    vendor dumps). Full-outer join on the key; value comparison in
    fixed-point so float noise can't fabricate changes. At 100 TB both
    snapshots would be bucketed on the key (io.write_bucketed_table)
    and this diff runs with zero exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def snap(df):
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "event_type", "value")
        )

    old_snap = snap(ev.filter(F.col("event_id") < 5000)).alias("o")
    new_snap = snap(ev).alias("n")
    fx = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    return (
        old_snap.join(
            new_snap, F.col("o.user_id") == F.col("n.user_id"), "full_outer"
        )
        .select(
            F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias("user_id"),
            F.when(F.col("o.user_id").isNull(), "added")
            .when(F.col("n.user_id").isNull(), "removed")
            .when(
                (F.col("o.event_type") != F.col("n.event_type"))
                | (fx(F.col("o.value")) != fx(F.col("n.value"))),
                "changed",
            )
            .otherwise("unchanged")
            .alias("change"),
            F.col("o.event_type").alias("old_type"),
            F.col("n.event_type").alias("new_type"),
        )
        .orderBy("user_id")
    )


@query(
    "q_time_gap_fill",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
  FROM events WHERE event_type = 'error'
),
spine AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events WHERE event_type = 'error'
  GROUP BY 1
)
SELECT s.hour,
       COALESCE(a.n, 0) AS n_errors,
       CAST(a.n IS NULL AS BOOLEAN) AS gap_filled
FROM spine s LEFT JOIN actual a ON s.hour = a.hour
ORDER BY s.hour
""",
)
def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series gap filling: hours with no events exist as
    explicit zero rows — the regularization every downstream
    rate/alerting consumer needs (a missing bucket is NOT a zero to a
    naive GROUP BY). The hour spine is generated IN the plan
    (`sequence()` between the broadcast min/max bounds, exploded),
    left-joined to the actual per-hour counts, with a flag marking
    synthesized rows. At 100 TB the spine is |hours| rows — trivial
    forever — and the counts aggregate map-side; nothing about this
    op grows with the corpus except the one count pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(actual, "hour", "left")
        .select(
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_errors"),
            F.col("n").isNull().alias("gap_filled"),
        )
        .orderBy("hour")
    )


@query(
    "q_time_carry_forward",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
  FROM events WHERE event_type = 'purchase'
),
spine AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_fp
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT s.hour,
       COALESCE(h.rev_fp,
                LAST_VALUE(h.rev_fp IGNORE NULLS) OVER (
                  ORDER BY s.hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         AS rev_fp_locf,
       CAST(h.rev_fp IS NULL AS BOOLEAN) AS carried
FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
ORDER BY s.hour
""",
)
def q_time_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) interpolation — the
    carry-fill half of time-series regularization (q_time_gap_fill is
    the zero-fill half): hours with no purchases repeat the last
    observed hourly revenue, flagged as carried. The fill is one
    `last(ignorenulls)` window over the hour spine — |hours| rows, so
    the global window is trivially small at any corpus size; revenue
    is pre-aggregated map-side as fixed-point integers before the
    spine join. The same idiom forward-fills a KTable's value between
    change events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("rev_fp")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(hourly, "hour", "left")
        .select(
            "hour",
            F.coalesce(
                F.col("rev_fp"), F.last("rev_fp", ignorenulls=True).over(w)
            ).alias("rev_fp_locf"),
            F.col("rev_fp").isNull().alias("carried"),
        )
        .orderBy("hour")
    )


@query(
    "q_events_cooccurrence",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS BIGINT) AS sid
  FROM marked
),
st AS (
  SELECT DISTINCT user_id, sid, event_type FROM sess
),
totals AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions FROM st),
singles AS (
  SELECT event_type, count(*) AS c FROM st GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sid = b.sid
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.c_ab, sa.c AS c_a, sb.c AS c_b,
       CAST(p.c_ab AS DOUBLE) * (SELECT n_sessions FROM totals)
         / (sa.c * sb.c) AS lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
ORDER BY type_a, type_b
""",
)
def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level co-occurrence with lift — the market-basket
    association measure (lift > 1: the two event types attract within a
    session; < 1: they repel). Sessions come from the shared lag/cumsum
    idiom; per-session distinct types pair up through a self-join on
    the session key (each side ≤ |types| rows per session, so the
    'basket square' is bounded by |types|² per session, never events²);
    lift divides exact integer counts. The pair matrix is |types|²
    rows forever — the event-taxonomy analogue of the Markov transition
    matrix, but order-free and windowless."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn("sid", F.sum("is_new").over(w))
    st = scoped_persist(sess.select("user_id", "sid", "event_type").distinct())
    totals = st.select("user_id", "sid").distinct().agg(
        F.count("*").alias("n_sessions")
    )
    singles = st.groupBy("event_type").agg(F.count("*").alias("c"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("c_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("c_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            "c_a",
            "c_b",
            (
                F.col("c_ab").cast("double") * F.col("n_sessions")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_events_bot_score",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT)
           - CAST(epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS BIGINT)
           AS gap_us
  FROM events
),
per_user AS (
  SELECT user_id,
         count(*) AS n_gaps,
         CAST(min(gap_us) AS BIGINT) AS min_gap_us,
         CAST(SUM(gap_us // 1000000) AS BIGINT) AS s1,
         CAST(SUM((gap_us // 1000000) * (gap_us // 1000000)) AS BIGINT) AS s2
  FROM gaps WHERE gap_us IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_gaps, min_gap_us,
       s1 // n_gaps AS mean_gap_s,
       CAST(s2 // n_gaps - (s1 // n_gaps) * (s1 // n_gaps) AS BIGINT)
         AS var_gap_s2,
       CAST(min_gap_us < 1000000
            AND s2 // n_gaps - (s1 // n_gaps) * (s1 // n_gaps) < 360000
            AS BOOLEAN) AS bot_suspect
FROM per_user
ORDER BY user_id
""",
)
def q_events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse heuristic from inter-event gap statistics: a user is
    suspect when they have sub-second bursts (min gap < 1 s) AND
    machine-regular spacing (gap variance below (10 min)²). The burst
    test keeps exact MICROSECOND resolution (min gap); the variance
    power sums run in whole seconds so Σgap² stays far inside int64 —
    all arithmetic is integer with floor division applied identically
    in both engines (no float time anywhere). One lag pass + one
    aggregate over the same user_id shuffle; the power sums re-merge
    for fleet-level rollups."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c)  # noqa: E731
    gaps = ev.select(
        "user_id",
        (us(F.col("ts")) - us(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # power sums in WHOLE SECONDS: µs² overflows int64 on month-long
    # gaps; second-granularity keeps Σgap² < 1e15 at any fixture scale
    gap_s = F.expr("gap_us DIV 1000000")
    per_user = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.sum(gap_s).alias("s1"),
        F.sum(gap_s * gap_s).alias("s2"),
    )
    mean = F.expr("s1 DIV n_gaps")
    var = F.expr("s2 DIV n_gaps") - mean * mean
    return per_user.select(
        "user_id",
        "n_gaps",
        "min_gap_us",
        mean.alias("mean_gap_s"),
        var.alias("var_gap_s2"),
        (
            (F.col("min_gap_us") < 1000000) & (var < 360000)
        ).alias("bot_suspect"),
    ).orderBy("user_id")


@query(
    "q_events_longest_streak",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
islands AS (
  SELECT user_id, event_type,
         count(*) AS streak_len,
         min(ts) AS streak_start
  FROM seq
  GROUP BY user_id, event_type, rn_all - rn_type
),
best AS (
  SELECT user_id, event_type, streak_len, streak_start,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY streak_len DESC, streak_start, event_type
         ) AS rk
  FROM islands
)
SELECT user_id, event_type AS streak_type, streak_len, streak_start
FROM best WHERE rk = 1
ORDER BY user_id
""",
)
def q_events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-type run per user — the gaps-and-islands
    pattern (value-based islands, vs the TIME-based islands of
    sessionization): within a user's event order, a run of equal types
    has constant rn_all − rn_type, so grouping on that difference
    recovers each island without self-joins or iteration. Ties between
    equally long streaks break on (start, type) deterministically.
    Both row_numbers, the island aggregate and the final pick ride ONE
    user_id hash partitioning — the streak/retention-style sequence
    metric KS apps hand-roll with per-key state."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id", "event_type", "ts", "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    islands = seq.groupBy("user_id", "event_type", "island").agg(
        F.count("*").alias("streak_len"), F.min("ts").alias("streak_start")
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), "streak_start", "event_type"
    )
    return (
        islands.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("streak_type"),
            "streak_len",
            "streak_start",
        )
        .orderBy("user_id")
    )


@query(
    "q_scd2_asof_snapshot",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS state, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state
  FROM events
),
starts AS (
  SELECT user_id, state, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_state IS NULL OR prev_state <> state
),
intervals AS (
  SELECT user_id, state, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from,
                                event_id) AS valid_to
  FROM starts
)
SELECT user_id, state, valid_from
FROM intervals
WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
ORDER BY user_id
""",
)
def q_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) query against the SCD2 history: the
    state of every key AS OF a chosen instant, read as the single
    interval containing it — what 'rewind the KTable to T' means once
    history is materialized as [valid_from, valid_to) rows
    (q_scd2_intervals builds them; this consumes them). The interval
    predicate is two pushable comparisons — against a bucketed,
    valid_from-sorted history table this is a pruned scan, no window
    replay of the raw changelog."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.lag("event_type").over(w_ord).alias("prev_state"),
    )
    starts = ordered.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    ).select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    w_seq = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    intervals = starts.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w_seq).alias("valid_to"),
    )
    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        intervals.filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .select("user_id", "state", "valid_from")
        .orderBy("user_id")
    )


@query(
    "q_time_ohlc",
    oracle="""
WITH keyed AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS ord
  FROM events
)
SELECT event_type, hour,
       arg_min(value, ord) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ord) AS close,
       count(*) AS n_ticks
FROM keyed
GROUP BY event_type, hour
ORDER BY event_type, hour
""",
)
def q_time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — open/high/low/close bars per (series, hour):
    the market-data compaction that turns a tick stream into candles.
    Open/close are argmin/argmax over a per-bar row_number (tie-proof
    (ts, event_id) order — a µs×id composite would overflow int64),
    high/low are plain min/max. The bar aggregate itself is map-side
    combinable and rides the same (series, hour) partitioning as the
    ordering window, so a century of ticks compacts with one shuffle
    into an |series|×|hours| output. The streaming form is the same
    aggregate under a tumbling window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    w = Window.partitionBy("event_type", hour).orderBy("ts", "event_id")
    keyed = ev.select(
        "event_type", hour.alias("hour"), "value",
        F.row_number().over(w).alias("ord"),
    )
    return (
        keyed.groupBy("event_type", "hour")
        .agg(
            F.min_by("value", F.col("ord")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ord")).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "q_time_interpolate_linear",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
  FROM events WHERE event_type = 'purchase'
),
spine AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
j AS (
  SELECT s.hour, a.v,
         CAST(FLOOR(epoch(s.hour)) AS BIGINT) // 3600 AS h
  FROM spine s LEFT JOIN actual a ON s.hour = a.hour
),
ctx AS (
  SELECT hour, v, h,
         LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         LAST_VALUE(h * (CASE WHEN v IS NOT NULL THEN 1 END) IGNORE NULLS)
           OVER (ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h0,
         FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
         FIRST_VALUE(h * (CASE WHEN v IS NOT NULL THEN 1 END) IGNORE NULLS)
           OVER (ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS h1
  FROM j
)
SELECT hour,
       CASE WHEN v IS NOT NULL THEN v
            WHEN v0 IS NULL THEN v1
            WHEN v1 IS NULL THEN v0
            ELSE v0 + (v1 - v0) * CAST(h - h0 AS DOUBLE) / (h1 - h0)
       END AS v_interp,
       CAST(v IS NULL AS BOOLEAN) AS interpolated
FROM ctx
ORDER BY hour
""",
)
def q_time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling — the third member of the
    regularization trio (gap_fill = zeros, carry_forward = LOCF,
    this = linear): missing hourly buckets take the straight line
    between their observed neighbors, edges extend the nearest
    observation. Deterministic cross-engine because both engines
    interpolate from IDENTICAL inputs with one identical expression:
    the endpoint values are exact fixed-point hourly sums, the
    fractional position is a ratio of exact integer hour indices, and
    v0 + (v1-v0)·k/n is evaluated the same way in IEEE doubles.

    Plan: one hourly pre-aggregation over the fact table (map-side
    partials), then all window passes run on the |hours| spine —
    bounded by the time span forever, the hypertable property. The
    h0/h1 neighbor indices ride the same IGNORE NULLS windows as the
    values (hour index masked to NULL on gap rows), so no join or
    self-join is needed to locate the bracketing observations."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        (
            F.sum(
                F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
            )
            / 10000.0
        ).alias("v")
    )
    j = spine.join(actual, "hour", "left").withColumn(
        "h", F.floor(F.unix_timestamp("hour") / 3600).cast("long")
    )
    h_obs = F.when(F.col("v").isNotNull(), F.col("h"))
    w_back = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    ctx = j.select(
        "hour",
        "v",
        "h",
        F.last("v", ignorenulls=True).over(w_back).alias("v0"),
        F.last(h_obs, ignorenulls=True).over(w_back).alias("h0"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("v1"),
        F.first(h_obs, ignorenulls=True).over(w_fwd).alias("h1"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("v0").isNull(), F.col("v1"))
        .when(F.col("v1").isNull(), F.col("v0"))
        .otherwise(
            F.col("v0")
            + (F.col("v1") - F.col("v0"))
            * (F.col("h") - F.col("h0")).cast("double")
            / (F.col("h1") - F.col("h0"))
        )
    )
    return (
        ctx.select(
            "hour",
            interp.alias("v_interp"),
            F.col("v").isNull().alias("interpolated"),
        )
        .orderBy("hour")
    )


@query(
    "q_time_ses_forecast",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_fp
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(v_fp ORDER BY day) AS xs,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       CAST(list_reduce(xs, (a, b) -> (3 * b + 7 * a) // 10) AS BIGINT)
         AS level_fp,
       list_reduce(xs, (a, b) -> (3 * b + 7 * a) // 10) / 10000.0
         AS forecast_next
FROM series ORDER BY event_type
""",
)
def q_time_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing one-step forecast per event type
    (α = 0.3): the level recurrence s₁ = x₁,
    sₜ = ⌊(3·xₜ + 7·sₜ₋₁)/10⌋ folds over the date-ordered daily totals
    entirely in INTEGER fixed-point, so the inherently sequential
    recurrence — which would drift under float reduction reordering —
    is digit-exact in both engines (Spark ``aggregate`` over the
    sorted per-key array ≡ DuckDB ``list_reduce``). The daily rollup
    is the only shuffle (map-side combinable); the fold's state is one
    BIGINT per key and the array is bounded by the calendar, not the
    event count — at 100 TB the per-key series stays thousands of
    elements regardless of corpus size, which is what makes the
    collect_list safe."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("v_fp")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "v_fp"))),
            lambda s: s["v_fp"],
        ).alias("xs"),
        F.count("*").alias("n_days"),
    )
    def _step(acc, x):
        # exact ⌊(3x+7s)/10⌋ on longs: subtract the mod-10 remainder so
        # the double division is of an exact multiple of 10 (< 2^53),
        # then recast — no float rounding can move the result
        s = 3 * x + 7 * acc
        return ((s - (s % 10)) / 10).cast("long")

    level = F.aggregate(
        F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1),
        F.element_at(F.col("xs"), 1),
        _step,
    )
    return (
        series.select(
            "event_type",
            "n_days",
            level.alias("level_fp"),
            (level / 10000.0).alias("forecast_next"),
        )
        .orderBy("event_type")
    )


@query(
    "q_eval_auc",
    oracle="""
WITH scored AS (
  SELECT value AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
grp AS (
  SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s
),
ordered AS (
  SELECT s, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS c
  FROM grp
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(cnt - pos) AS BIGINT) AS nn
  FROM grp
)
SELECT np, nn,
       CAST(SUM(pos * (2 * c + cnt + 1)) AS BIGINT) AS rank2_pos_sum,
       (CAST(SUM(pos * (2 * c + cnt + 1)) AS BIGINT) - np * (np + 1))
         / (2.0 * np * nn) AS auc
FROM ordered, tot
GROUP BY np, nn
""",
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label ('does `value`
    rank purchases above everything else') — the Mann-Whitney rank-sum
    form with average ranks for ties, so the answer is exactly what
    sklearn's roc_auc_score returns. Everything stays INTEGER until
    the final division: per distinct score, the doubled average rank
    is 2·(rows_before) + cnt + 1.

    Scale shape: ranking needs a GLOBAL order over scores, which is
    the classic single-task-window trap. Here it runs as the same
    two-phase prefix sum llm/packing.py uses — scores roll up per
    distinct value, cumulative counts compute WITHIN value-range
    buckets (floor(s/16), partitioned window), and only the per-bucket
    totals — a table bounded by the score domain, not the data — see
    an ordered cumulative pass before broadcasting back as offsets.
    The oracle uses DuckDB's plain global window; identical integers
    prove the decomposition."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("s").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    grp = scoped_persist(grp.withColumn("b", F.floor(F.col("s") / 16).cast("long")))
    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy("b")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = grp.withColumn(
        "c_in", F.coalesce(F.sum("cnt").over(w_in), F.lit(0))
    )
    btot = grp.groupBy("b").agg(F.sum("cnt").alias("bc"))
    # the only ordered-unpartitioned window runs over the BUCKET table,
    # whose size is bounded by the score domain (⌈max/16⌉ rows) — the
    # packing.py contract for distributed prefix sums
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.withColumn(
        "c_off", F.coalesce(F.sum("bc").over(w_b), F.lit(0))
    ).select("b", "c_off")
    rank2 = 2 * (F.col("c_off") + F.col("c_in")) + F.col("cnt") + 1
    s2 = (
        within.join(F.broadcast(off), "b")
        .agg(F.sum(F.col("pos") * rank2).alias("rank2_pos_sum"))
    )
    tot = grp.agg(
        F.sum("pos").alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nn"),
    )
    return s2.crossJoin(F.broadcast(tot)).select(
        "np",
        "nn",
        "rank2_pos_sum",
        (
            (F.col("rank2_pos_sum") - F.col("np") * (F.col("np") + 1))
            / (2.0 * F.col("np") * F.col("nn"))
        ).alias("auc"),
    )


@query(
    "q_ts_similarity_search",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, hour AS w_start,
         list(v) OVER (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS w
  FROM hourly
),
full_w AS (SELECT * FROM win WHERE len(w) = 24),
q AS (
  SELECT event_type AS q_type, w_start AS q_start, w AS qw
  FROM full_w WHERE event_type = 'purchase'
  ORDER BY w_start DESC LIMIT 1
),
dist AS (
  SELECT f.event_type, f.w_start,
         CAST(SUM((f.w[i.i] - q.qw[i.i]) * (f.w[i.i] - q.qw[i.i]))
              AS BIGINT) AS dist_fp
  FROM full_w f, q, (SELECT unnest(range(1, 25)) AS i) i
  WHERE NOT (f.event_type = q.q_type AND f.w_start = q.q_start)
  GROUP BY 1, 2
)
SELECT event_type, w_start, dist_fp
FROM dist
ORDER BY dist_fp, event_type, w_start
LIMIT 10
""",
)
def q_ts_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the distributed
    streaming-similarity problem of PAPERS.md's EDBT 2019 entry —
    UCR-suite/Matrix-Profile family): given the most recent 24-hour
    demand pattern of one event type, find the 10 most similar
    24-hour windows anywhere else in the corpus. Windows materialize
    per series via an ordered rows-frame collect (partitioned by
    event_type — never a global window); distances are exact BIGINT
    sums of squared fixed-point differences (no float accumulation,
    so ranking can't ulp-flip cross-engine), the query window
    broadcasts, and the top-10 is a TakeOrderedAndProject. At 100 TB
    the window table is ~|series|·|hours| rows of 24-element arrays —
    linear in the data — and the scale lever the paper's incremental
    framework adds (early-abandon lower bounds) composes here as a
    cheap-bound prefilter before the exact distance, same shape as
    the Bloom/prefix prefilters elsewhere in this repo."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    w_frame = (
        Window.partitionBy("event_type").orderBy("hour").rowsBetween(0, 23)
    )
    full_w = (
        hourly.select(
            "event_type",
            F.col("hour").alias("w_start"),
            F.collect_list("v").over(w_frame).alias("w"),
        )
        .filter(F.size("w") == 24)
    )
    full_w = scoped_persist(full_w)
    qw = (
        full_w.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("w_start").desc())
        .limit(1)
        .select(
            F.col("event_type").alias("q_type"),
            F.col("w_start").alias("q_start"),
            F.col("w").alias("qw"),
        )
    )
    diff2 = F.zip_with("w", "qw", lambda a, b: (a - b) * (a - b))
    dist_fp = F.aggregate(
        diff2, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        full_w.crossJoin(F.broadcast(qw))
        .filter(
            ~(
                (F.col("event_type") == F.col("q_type"))
                & (F.col("w_start") == F.col("q_start"))
            )
        )
        .select("event_type", "w_start", dist_fp.alias("dist_fp"))
        .orderBy("dist_fp", "event_type", "w_start")
        .limit(10)
    )


@query(
    "q_events_interval_scheduling",
    oracle="""
WITH RECURSIVE iv AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
         epoch_us(CAST(ts AS TIMESTAMP))
           + CAST(FLOOR(value * 1000000) AS BIGINT) AS e_us
  FROM events
),
pick AS (
  SELECT user_id, CAST(-9223372036854775807 AS BIGINT) AS last_e,
         CAST(0 AS BIGINT) AS cnt
  FROM (SELECT DISTINCT user_id FROM iv) u
  UNION ALL
  SELECT p.user_id, nxt.e_us, p.cnt + 1
  FROM pick p, LATERAL (
    SELECT e_us FROM iv
    WHERE iv.user_id = p.user_id AND iv.s_us >= p.last_e
    ORDER BY e_us, s_us LIMIT 1
  ) nxt
),
best AS (
  SELECT user_id, CAST(MAX(cnt) AS BIGINT) AS max_nonoverlap
  FROM pick GROUP BY user_id
),
n AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM iv GROUP BY user_id
)
SELECT best.user_id, n.n_events, best.max_nonoverlap
FROM best JOIN n ON best.user_id = n.user_id
ORDER BY best.user_id
""",
)
def q_events_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy interval scheduling per user: treating each event as a
    busy interval [ts, ts + value seconds], the maximum number of
    NON-overlapping intervals — the classic earliest-deadline greedy
    (provably optimal), run as a fold over the end-time-sorted
    per-user interval list. Endpoints are exact µs integers and the
    fold state is (count, last_end) in BIGINTs. The oracle derives the
    same greedy INDEPENDENTLY as a recursive CTE (repeatedly pick the
    earliest-ending compatible interval) — deliberately NOT DuckDB's
    `list_reduce`, whose struct-typed accumulator mis-evaluates under
    grouped vectorized execution in this build (verified: correct on a
    single row, collapses to n under multi-group batches — caught by
    this repo's cross-engine gate). Two formulations, one answer. Per-
    user lists are bounded by per-key activity; the only shuffle is
    the user_id groupBy."""
    ev = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts"))
    e_us = s_us + F.floor(F.col("value") * 1000000).cast("long")
    iv = ev.select(
        "user_id", s_us.alias("s_us"), e_us.alias("e_us")
    )
    lst = iv.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("e_us").alias("e"), F.col("s_us").alias("s")))
        ).alias("ivs"),
        F.count("*").alias("n_events"),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("cnt"),
        F.lit(-(1 << 62)).cast("long").alias("last"),
    )

    def _step(acc, x):
        take = F.struct(
            (acc["cnt"] + 1).alias("cnt"), x["e"].alias("last")
        )
        return F.when(x["s"] >= acc["last"], take).otherwise(acc)

    count = F.aggregate(F.col("ivs"), init, _step)["cnt"]
    return (
        lst.select(
            "user_id",
            "n_events",
            count.alias("max_nonoverlap"),
        )
        .orderBy("user_id")
    )


@query(
    "q_events_dau_wau",
    oracle="""
WITH du AS (
  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
  FROM events
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
),
offs AS (SELECT unnest(range(0, 7)) AS o),
cover AS (
  SELECT du.day + offs.o * INTERVAL 1 DAY AS obs_day, du.user_id
  FROM du, offs
),
wau AS (
  SELECT obs_day AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM cover GROUP BY obs_day
)
SELECT dau.day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
""",
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU with the DAU/WAU 'stickiness' ratio —
    the engagement dashboard primitive. EXACT rolling distinct count
    without windowed distinct (unsupported) and without 7 self-joins:
    each (user, active-day) pair EXPLODES into the 7 observation days
    it covers (bounded ×7 fan-out — the covering-explode dual of a
    rolling window), then one distinct-count per observation day. Both
    aggregations shuffle on the day key; the distinct per (day, user)
    happens map-side first, so the fan-out carries distinct pairs,
    not raw events."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    du = scoped_persist(du)
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    cover = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
        "user_id",
    ).select(
        F.expr("day + make_dt_interval(o, 0, 0, 0)").alias("day"),
        "user_id",
    )
    wau = cover.groupBy("day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "q_agg_chi_square",
    oracle="""
WITH cells AS (
  SELECT event_type AS et, dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
marg AS (
  SELECT c.et, c.dow, c.o,
         CAST(SUM(c.o) OVER (PARTITION BY c.et) AS BIGINT) AS r,
         CAST(SUM(c.o) OVER (PARTITION BY c.dow) AS BIGINT) AS col,
         CAST(SUM(c.o) OVER () AS BIGINT) AS n
  FROM cells c
),
contrib AS (
  SELECT et, dow, r, col, n,
         POW(CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * col / n, 2)
           / (CAST(r AS DOUBLE) * col / n) AS x
  FROM marg
),
folded AS (
  SELECT list(x ORDER BY et, dow) AS xs,
         CAST(any_value(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT et) AS BIGINT) AS nr,
         CAST(count(DISTINCT dow) AS BIGINT) AS nc
  FROM contrib
)
SELECT n, n_cells,
       round(list_reduce(xs, (a, b) -> a + b), 9) AS chi2,
       round(sqrt(list_reduce(xs, (a, b) -> a + b)
                  / (n * least(nr - 1, nc - 1))), 9) AS cramers_v
FROM folded
""",
)
def q_agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (event type × day-of-week) with
    Cramér's V effect size — 'does activity mix shift by weekday', the
    categorical A/B sibling of q_agg_welch_ttest. Observed counts and
    margins are exact integers (margins via windows over the
    DOMAIN-bounded 5×7 cell table, not the data); the per-cell
    (o−e)²/e contributions are doubles, so the cell sum is made
    reduction-order-proof by folding a (type, dow)-SORTED list — the
    q_time_ses_forecast pattern with a scalar accumulator (DuckDB's
    list_reduce is sound for scalars; its struct-accumulator bug is
    documented at q_events_interval_scheduling). dayofweek aligns via
    Spark's dayofweek−1 ≡ DuckDB's (the q_seasonality_dow
    convention)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.dayofweek(F.col("ts")) - 1).cast("long").alias("dow"),
    ).agg(F.count("*").alias("o"))
    marg = cells.select(
        "et",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("et")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("r").cast("double") * F.col("col") / F.col("n")
    contrib = marg.select(
        "et",
        "dow",
        "r",
        "col",
        "n",
        (F.pow(F.col("o").cast("double") - e, 2) / e).alias("x"),
    )
    folded = contrib.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("et", "dow", "x"))),
            lambda s: s["x"],
        ).alias("xs"),
        F.any_value("n").alias("n"),
        F.count("*").alias("n_cells"),
        F.count_distinct("et").alias("nr"),
        F.count_distinct("dow").alias("nc"),
    )
    chi2 = F.aggregate(
        F.col("xs"), F.lit(0.0), lambda a, b: a + b
    )
    return folded.select(
        "n",
        "n_cells",
        F.round(chi2, 9).alias("chi2"),
        F.round(
            F.sqrt(
                chi2 / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            9,
        ).alias("cramers_v"),
    )


@query(
    "q_survival_kaplan_meier",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CAST(ts AS TIMESTAMP)) AS first_ts,
         max(CAST(ts AS TIMESTAMP)) AS last_ts,
         min(CASE WHEN event_type = 'error' THEN CAST(ts AS TIMESTAMP) END)
           AS first_err
  FROM events GROUP BY user_id
),
span AS (
  SELECT user_id,
         CASE WHEN first_err IS NOT NULL
              THEN date_diff('day', first_ts, first_err)
              ELSE date_diff('day', first_ts, last_ts) END AS dur,
         CAST(first_err IS NOT NULL AS INT) AS ev
  FROM per_user
),
tbl AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS n_at_dur,
         CAST(SUM(ev) AS BIGINT) AS d
  FROM span GROUP BY dur
),
risk AS (
  SELECT dur, d,
         CAST(SUM(n_at_dur) OVER (ORDER BY dur DESC) AS BIGINT) AS n_risk
  FROM tbl
),
km AS (
  SELECT dur, d, n_risk,
         SUM(CASE WHEN d < n_risk
                  THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END)
           OVER (ORDER BY dur) AS log_s,
         SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY dur) AS absorbed
  FROM risk
)
SELECT dur AS duration_days, n_risk, d AS d_event,
       CASE WHEN absorbed > 0 THEN 0.0 ELSE round(exp(log_s), 9) END
         AS survival
FROM km ORDER BY duration_days
""",
)
def q_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-error per user
    (right-censored at the user's last activity when no error occurs)
    — the survival-analysis primitive behind churn/time-to-failure
    dashboards. The at-risk counts come from a REVERSE cumulative sum
    and the product-limit estimator runs in log space as a forward
    cumulative sum (cumulative frames are sequential by definition, so
    the double accumulation order is pinned in both engines); the
    absorbing S=0 state (d = n_risk) is handled outside the log. Both
    windows order over DISTINCT durations — a day-domain-bounded
    table, never the user count — and the per-user reduction is one
    min/max groupBy."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("first_err"),
    )
    span = per_user.select(
        F.when(
            F.col("first_err").isNotNull(),
            F.datediff(F.col("first_err"), F.col("first_ts")),
        )
        .otherwise(F.datediff(F.col("last_ts"), F.col("first_ts")))
        .cast("long")
        .alias("dur"),
        F.col("first_err").isNotNull().cast("int").alias("ev"),
    )
    tbl = span.groupBy("dur").agg(
        F.count("*").alias("n_at_dur"), F.sum("ev").alias("d")
    )
    w_desc = (
        Window.orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = tbl.select(
        "dur", "d", F.sum("n_at_dur").over(w_desc).alias("n_risk")
    )
    w_asc = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    log_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    absorbed_flag = F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    km = risk.select(
        "dur",
        "d",
        "n_risk",
        F.sum(log_term).over(w_asc).alias("log_s"),
        F.sum(absorbed_flag).over(w_asc).alias("absorbed"),
    )
    return (
        km.select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            F.col("d").alias("d_event"),
            F.when(F.col("absorbed") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("log_s")), 9))
            .alias("survival"),
        )
        .orderBy("duration_days")
    )


@query(
    "q_anomaly_cusum",
    oracle="""
WITH f AS (
  SELECT event_id, event_type,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT event_type,
         CAST(CAST(SUM(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT)
           AS mu_fp
  FROM f GROUP BY event_type
),
p AS (
  SELECT f.event_id, f.event_type, f.v, m.mu_fp,
         CAST(SUM(f.v - m.mu_fp) OVER (
                PARTITION BY f.event_type ORDER BY f.event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pfx
  FROM f JOIN m USING (event_type)
),
s AS (
  SELECT event_id, event_type, v, mu_fp, pfx,
         LEAST(CAST(MIN(pfx) OVER (
                 PARTITION BY event_type ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT), 0) AS runmin
  FROM p
)
SELECT event_id, event_type,
       CAST(pfx - runmin AS BIGINT) AS cusum_fp,
       (pfx - runmin) / 10000.0 AS cusum,
       CAST((pfx - runmin) > 1000 * mu_fp AS BOOLEAN) AS drift_alarm
FROM s ORDER BY event_id
""",
)
def q_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact one-sided CUSUM drift detector per event type — the
    change-point monitor that catches a sustained small shift a rolling
    z-score (q_anomaly_zscore) misses: S_t = max(0, S_{t-1} + x_t − μ)
    accumulates deviation from the per-type reference mean and alarms
    when it crosses h = 1000·μ.

    The sequential recurrence is NOT folded row-by-row: the closed form
    S_t = P_t − min(0, min_{j≤t} P_j) (prefix sum minus running minimum
    of the prefix) turns it into two stock window passes — the same
    trick that de-weaked q_stream_late_data_drop's running max. All
    state is exact fixed-point BIGINT (μ is the integer floor of the
    type mean; the alarm compares integers, never doubles), so both
    engines agree digit-for-digit. Order is by event_id (the ingestion
    PK) — no sub-µs timestamp tie hazard. At 100 TB the monitored
    series key is a device/user (millions of partitions, each modest);
    the 5-type fixture shape is the demo, and the prefix identities
    bucket-decompose exactly like the packing prefix sum if one series
    ever outgrows a task."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    mu = ev.groupBy("event_type").agg(
        F.expr("CAST(SUM(v) DIV count(*) AS BIGINT)").alias("mu_fp")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        ev.join(F.broadcast(mu), "event_type")
        .withColumn("pfx", F.sum(F.col("v") - F.col("mu_fp")).over(w))
        .withColumn("runmin", F.least(F.min("pfx").over(w), F.lit(0).cast("long")))
    )
    return scored.select(
        "event_id",
        "event_type",
        (F.col("pfx") - F.col("runmin")).cast("long").alias("cusum_fp"),
        ((F.col("pfx") - F.col("runmin")) / 10000.0).alias("cusum"),
        ((F.col("pfx") - F.col("runmin")) > 1000 * F.col("mu_fp")).alias(
            "drift_alarm"
        ),
    ).orderBy("event_id")


@query(
    "q_time_acf",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
st AS (
  SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM hourly
),
ctr AS (SELECT h, x - (s - s % n) // n AS d FROM hourly, st),
den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM ctr),
lags AS (SELECT unnest(range(1, 7)) AS lag),
pairs AS (
  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(a.d * b.d) AS BIGINT) AS num
  FROM lags l
  JOIN ctr a ON TRUE
  JOIN ctr b ON epoch(b.h) = epoch(a.h) + 3600 * l.lag
  GROUP BY l.lag
)
SELECT lag, n_pairs, num, den.den AS den,
       CAST(num AS DOUBLE) / den.den AS acf
FROM pairs, den
ORDER BY lag
""",
)
def q_time_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-value series at
    lags 1–6 — the seasonality detector (a 24h-periodic series shows
    the comb in r_k) and the input to any Box-Jenkins-style model
    selection. Exact by construction: hourly totals are fixed-point
    BIGINTs, the series is centered on the FLOORED integer mean (the
    convention both engines compute with one exact integer division),
    and each r_k = Σ d_t·d_{t+k} / Σ d_t² is a ratio of exact BIGINTs
    — the one double division of integers < 2^53 is IEEE-identical
    cross-engine.

    Scale shape: the hourly rollup is the only data-sized shuffle
    (map-side combinable); everything after runs on the CALENDAR-
    bounded series table (720 rows per month regardless of corpus
    size — same argument as the SES forecast), the lag alignment is an
    equi-join on the truncated epoch (never a global-order window),
    and the 1-row stats table broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("x")
    )
    hourly = scoped_persist(hourly)
    st = hourly.agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    ctr = (
        hourly.crossJoin(F.broadcast(st))
        .select(
            F.unix_timestamp("h").alias("hsec"),
            (F.col("x") - F.expr("(s - s % n) DIV n")).alias("d"),
        )
    )
    ctr = scoped_persist(ctr)
    den = ctr.agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("den"))
    lags = spark.range(1, 7).select(F.col("id").alias("lag"))
    a = ctr.select(F.col("hsec"), F.col("d").alias("da"))
    b = ctr.select(F.col("hsec").alias("hb"), F.col("d").alias("db"))
    pairs = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("hb") == F.col("hsec") + 3600 * F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("da") * F.col("db")).cast("long").alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            "num",
            "den",
            (F.col("num").cast("double") / F.col("den")).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "q_time_lttb_downsample",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
           // 3600 AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
daily AS (
  SELECT x // 24 AS day, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(v) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS n
  FROM hourly GROUP BY 1
),
nb AS (
  SELECT day,
         lag(sx)  OVER w AS p_sx, lag(sv)  OVER w AS p_sv,
         lag(n)   OVER w AS p_n,
         lead(sx) OVER w AS n_sx, lead(sv) OVER w AS n_sv,
         lead(n)  OVER w AS n_n
  FROM daily WINDOW w AS (ORDER BY day)
),
scored AS (
  SELECT nb.day, h.x, h.v,
         ABS((p_sx * n_n - n_sx * p_n) * (h.v * p_n - p_sv)
             - (p_sx - h.x * p_n) * (n_sv * p_n - p_sv * n_n)) AS a2
  FROM hourly h JOIN nb ON h.x // 24 = nb.day
  WHERE p_n IS NOT NULL AND n_n IS NOT NULL
),
sel AS (
  SELECT day, x, v, a2,
         row_number() OVER (PARTITION BY day ORDER BY a2 DESC, x) AS rn
  FROM scored
),
ends AS (
  SELECT x // 24 AS day, x, v, CAST(0 AS BIGINT) AS a2
  FROM hourly
  WHERE x = (SELECT min(x) FROM hourly)
     OR x = (SELECT max(x) FROM hourly)
)
SELECT day, x AS x_hour, v AS v_fx, a2 AS area2 FROM sel WHERE rn = 1
UNION ALL
SELECT day, x, v, a2 FROM ends
ORDER BY x_hour
""",
)
def q_time_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style series downsampling (largest-triangle, fixed bucket
    anchors): keep ONE representative point per day — the one forming
    the largest triangle against the previous and next day's mean
    points — plus the global endpoints; the visually-faithful
    downsampler every monitoring system runs before plotting a
    million-point series.

    This is the parallel 'means-anchored' LTTB variant: classic LTTB
    anchors each bucket on the PREVIOUSLY SELECTED point (a sequential
    dependency); anchoring on neighbor-bucket means instead makes every
    bucket independent — the standard trick for distributed LTTB — at
    negligible visual difference. Exactness: doubling the area and
    multiplying through by n_prev·n_next clears every mean's division,
    so the score is |integer cross product| on BIGINTs and the argmax
    (ties → earliest hour) is total-ordered.

    Scale shape: the hourly rollup is the only data-sized shuffle; the
    per-day stats table is CALENDAR-bounded, so its lag/lead window is
    over ~30 rows (same bounded-series argument as SES/ACF), scoring
    is a broadcastable equi-join of hourly onto day stats, and the
    per-day argmax window partitions by day (≤ 24 rows each)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    hourly = scoped_persist(hourly)
    daily = hourly.groupBy(F.expr("x DIV 24").alias("day")).agg(
        F.sum("x").alias("sx"), F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    w = Window.orderBy("day")
    nb = daily.select(
        "day",
        F.lag("sx").over(w).alias("p_sx"),
        F.lag("sv").over(w).alias("p_sv"),
        F.lag("n").over(w).alias("p_n"),
        F.lead("sx").over(w).alias("n_sx"),
        F.lead("sv").over(w).alias("n_sv"),
        F.lead("n").over(w).alias("n_n"),
    ).filter(F.col("p_n").isNotNull() & F.col("n_n").isNotNull())
    a2 = F.abs(
        (F.col("p_sx") * F.col("n_n") - F.col("n_sx") * F.col("p_n"))
        * (F.col("v") * F.col("p_n") - F.col("p_sv"))
        - (F.col("p_sx") - F.col("x") * F.col("p_n"))
        * (F.col("n_sv") * F.col("p_n") - F.col("p_sv") * F.col("n_n"))
    )
    scored = (
        hourly.join(
            F.broadcast(nb), F.expr("x DIV 24") == F.col("day")
        )
        .select("day", "x", "v", a2.alias("a2"))
    )
    wd = Window.partitionBy("day").orderBy(F.desc("a2"), F.asc("x"))
    sel = (
        scored.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("day", "x", "v", "a2")
    )
    ext = hourly.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    ends = (
        hourly.join(
            F.broadcast(ext),
            (F.col("x") == F.col("lo")) | (F.col("x") == F.col("hi")),
        )
        .select(
            F.expr("x DIV 24").alias("day"),
            "x",
            "v",
            F.lit(0).cast("long").alias("a2"),
        )
    )
    return (
        sel.unionByName(ends)
        .select(
            "day",
            F.col("x").alias("x_hour"),
            F.col("v").alias("v_fx"),
            F.col("a2").alias("area2"),
        )
        .orderBy("x_hour")
    )


@query(
    "q_time_holt_linear",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_fp
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, v_fp,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
n AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n_days FROM idx GROUP BY 1),
rec AS (
  SELECT i1.event_type, CAST(1 AS BIGINT) AS t,
         i1.v_fp AS l, i2.v_fp - i1.v_fp AS b
  FROM idx i1 JOIN idx i2
    ON i1.event_type = i2.event_type AND i1.rn = 1 AND i2.rn = 2
  UNION ALL
  SELECT r.event_type, r.t + 1,
         ((3 * i.v_fp + 7 * (r.l + r.b))
          - (((3 * i.v_fp + 7 * (r.l + r.b)) % 10) + 10) % 10) // 10,
         ((2 * (((3 * i.v_fp + 7 * (r.l + r.b))
                 - (((3 * i.v_fp + 7 * (r.l + r.b)) % 10) + 10) % 10) // 10
                - r.l) + 8 * r.b)
          - (((2 * (((3 * i.v_fp + 7 * (r.l + r.b))
                     - (((3 * i.v_fp + 7 * (r.l + r.b)) % 10) + 10) % 10) // 10
                    - r.l) + 8 * r.b) % 10) + 10) % 10) // 10
  FROM rec r JOIN idx i
    ON i.event_type = r.event_type AND i.rn = r.t + 1
)
SELECT rec.event_type, n.n_days, rec.l AS level_fp, rec.b AS trend_fp,
       (rec.l + rec.b) / 10000.0 AS forecast_next
FROM rec JOIN n ON n.event_type = rec.event_type AND rec.t = n.n_days
ORDER BY 1
""",
)
def q_time_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing per event type
    (α = 0.3, β = 0.2): the two-state recurrence
    lₜ = ⌊(3xₜ + 7(l+b))/10⌋, bₜ = ⌊(2(lₜ−l) + 8b)/10⌋ over the
    date-ordered daily totals — the trend-aware upgrade of the SES
    forecast, initialized the standard way (l₁ = x₁, b₁ = x₂−x₁).

    Determinism: the inherently sequential fold runs in INTEGER
    fixed-point with an explicit floored division that is exact for
    NEGATIVE trend values too — `s DIV 10` truncates toward zero on
    Spark but `//` floors on DuckDB, so both sides compute
    (s − ((s mod 10)+10) mod 10)/10, which is floor division under
    either remainder-sign convention. The oracle intentionally does
    NOT use list_reduce with a struct accumulator (a real DuckDB bug
    q_events_interval_scheduling documented) — it re-derives the fold
    as a recursive CTE, making the agreement a genuine cross-engine
    check of the recurrence.

    Scale shape: identical to the SES query — one map-side-combinable
    daily rollup, then a per-key fold whose array is CALENDAR-bounded
    (thousands of elements per key at any corpus size)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("v_fp")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "v_fp"))),
            lambda s: s["v_fp"],
        ).alias("xs"),
        F.count("*").alias("n_days"),
    )

    def _fdiv10(s):
        # exact floor division by 10 for either sign, identical on both
        # engines regardless of the % sign convention
        return ((s - ((s % 10) + 10) % 10) / 10).cast("long")

    def _step(acc, x):
        new_l = _fdiv10(3 * x + 7 * (acc["l"] + acc["b"]))
        new_b = _fdiv10(2 * (new_l - acc["l"]) + 8 * acc["b"])
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    init = F.struct(
        F.element_at(F.col("xs"), 1).alias("l"),
        (F.element_at(F.col("xs"), 2) - F.element_at(F.col("xs"), 1)).alias(
            "b"
        ),
    )
    state = F.aggregate(
        F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1), init, _step
    )
    return (
        series.filter(F.size(F.col("xs")) >= 2)
        .select(
            "event_type",
            "n_days",
            state["l"].alias("level_fp"),
            state["b"].alias("trend_fp"),
            ((state["l"] + state["b"]) / 10000.0).alias("forecast_next"),
        )
        .orderBy("event_type")
    )


@query(
    "q_time_max_drawdown",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS v_fp
  FROM events GROUP BY 1, 2
),
lvl AS (
  SELECT event_type, day,
         CAST(SUM(v_fp) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS cum
  FROM daily
),
dd AS (
  SELECT event_type, day, cum,
         CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS peak,
         CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day) - cum
              AS BIGINT) AS drawdown
  FROM lvl
),
best AS (
  SELECT event_type, day, cum, peak, drawdown,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY drawdown DESC, day) AS rn
  FROM dd
)
SELECT event_type, day AS trough_day, peak AS peak_fp, cum AS trough_fp,
       drawdown AS max_drawdown_fp
FROM best WHERE rn = 1
ORDER BY event_type
""",
)
def q_time_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily value series per event
    type — the risk statistic every financial/SLA dashboard carries:
    the deepest peak-to-trough fall of the running total, reported
    with the peak level, the trough level, and the (earliest) trough
    day. Exact: daily totals are fixed-point BIGINTs, the cumulative
    and running-max windows are integer, and the argmax is a total
    order (drawdown DESC, day ASC).

    Scale shape: one map-side-combinable daily rollup shuffles; the
    three window passes and the argmax all partition by event_type
    over the CALENDAR-bounded daily series (≤ thousands of rows per
    key at any corpus size — the same bounded-series argument as
    SES/Holt/ACF), riding a single hash exchange on the series key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("v_fp")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.select(
        "event_type",
        "day",
        F.sum("v_fp").over(w).alias("cum"),
    ).select(
        "event_type",
        "day",
        "cum",
        F.max("cum").over(w).alias("peak"),
        (F.max("cum").over(w) - F.col("cum")).alias("drawdown"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("drawdown"), F.asc("day")
    )
    return (
        dd.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("trough_day"),
            F.col("peak").cast("long").alias("peak_fp"),
            F.col("cum").cast("long").alias("trough_fp"),
            F.col("drawdown").cast("long").alias("max_drawdown_fp"),
        )
        .orderBy("event_type")
    )


_MARKOV_PATHS_SPARK_SQL = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events_rec_src
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (
  SELECT prev_type, SUM(n) AS row_total FROM trans GROUP BY prev_type
),
p AS (
  SELECT t.prev_type, t.next_type,
         CAST(t.n * 1000000 DIV tot.row_total AS BIGINT) AS p_ppm
  FROM trans t JOIN tot ON t.prev_type = tot.prev_type
),
paths (start_type, path, last_type, score_ppm, depth) AS (
  SELECT prev_type, prev_type, prev_type, CAST(1000000 AS BIGINT), 0
  FROM (SELECT DISTINCT prev_type FROM p)
  UNION ALL
  SELECT pa.start_type, CONCAT(pa.path, '>', p.next_type), p.next_type,
         CAST(pa.score_ppm * p.p_ppm DIV 1000000 AS BIGINT), pa.depth + 1
  FROM paths pa JOIN p ON p.prev_type = pa.last_type
  WHERE pa.depth < 4
)
SELECT path, score_ppm FROM paths WHERE depth = 4
ORDER BY score_ppm DESC, path
LIMIT 25
"""


@query(
    "q_sql_recursive_paths",
    oracle="""
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
  FROM trans GROUP BY prev_type
),
p AS (
  SELECT t.prev_type, t.next_type,
         CAST(t.n * 1000000 // tot.row_total AS BIGINT) AS p_ppm
  FROM trans t JOIN tot ON t.prev_type = tot.prev_type
),
paths (start_type, path, last_type, score_ppm, depth) AS (
  SELECT prev_type, prev_type, prev_type, CAST(1000000 AS BIGINT),
         CAST(0 AS BIGINT)
  FROM (SELECT DISTINCT prev_type FROM p) b
  UNION ALL
  SELECT pa.start_type, pa.path || '>' || p.next_type, p.next_type,
         CAST(pa.score_ppm * p.p_ppm // 1000000 AS BIGINT), pa.depth + 1
  FROM paths pa JOIN p ON p.prev_type = pa.last_type
  WHERE pa.depth < 4
)
SELECT path, score_ppm FROM paths WHERE depth = 4
ORDER BY score_ppm DESC, path
LIMIT 25
""",
)
def q_sql_recursive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely 4-step Markov paths through the event-type graph,
    computed with a RECURSIVE CTE executed by Spark's own SQL engine
    (`WITH RECURSIVE`, new in Spark 4) — the SQL-surface parity proof
    for iterative queries: the same shape DuckDB runs as the oracle
    (and that q_dedup_clusters' driver loop implements by hand for the
    unbounded case). Scores are integer ppm products floored at every
    step, so the recursion is exact cross-engine; the top-25 has a
    total order (score DESC, path ASC).

    Scale shape: the event stream is touched ONCE (the lag window on
    the user key); everything recursive runs on the |event types|²
    transition matrix — 25 rows here, vocabulary-bounded forever —
    with depth capped at 4, so the path table is ≤ |types|·|types|⁴
    rows regardless of corpus size. Spark's recursion limit
    (cteRecursionLevelLimit, default 100) is far above the cap."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_rec_src")
    return spark.sql(_MARKOV_PATHS_SPARK_SQL)


@query(
    "q_events_user_entropy",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY user_id),
e AS (
  SELECT c.user_id,
         CAST(SUM(c.c * (CAST(FLOOR(ln(n.n) * 1000000) AS BIGINT)
                         - CAST(FLOOR(ln(c.c) * 1000000) AS BIGINT)))
              AS BIGINT) AS ent_num
  FROM c JOIN n ON n.user_id = c.user_id
  GROUP BY c.user_id
)
SELECT e.user_id, n.n AS n_events, e.ent_num,
       CAST(e.ent_num AS DOUBLE) / (n.n * 1000000.0) AS entropy_nats
FROM e JOIN n ON n.user_id = e.user_id
ORDER BY e.user_id
""",
)
def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user — Shannon entropy of each user's
    event-type distribution, the classic bot/power-user separator
    (a bot hammering one action scores ~0; an engaged human spreads
    across types). Exact: H·n = Σ c·(ln n − ln c) with every ln
    fixed-pointed ONCE per integer count (⌊ln·1e6⌋, the same
    one-floor-per-entry discipline as the LM queries), so per-user
    scores are exact integer sums and the single division is of exact
    BIGINTs.

    Scale shape: one (user, type)-keyed count (map-side combinable) —
    a table bounded by users×types — then two user-keyed aggregates
    riding the same partitioning; no window, no global order except
    the output sort."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    c = scoped_persist(c)
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    lnfx = lambda col: F.floor(
        F.log(F.col(col).cast("double")) * 1000000
    ).cast("long")
    e = (
        c.join(n, "user_id")
        .select(
            "user_id",
            "n",
            (F.col("c") * (lnfx("n") - lnfx("c"))).alias("t"),
        )
        .groupBy("user_id", "n")
        .agg(F.sum("t").cast("long").alias("ent_num"))
    )
    return e.select(
        "user_id",
        F.col("n").alias("n_events"),
        "ent_num",
        (F.col("ent_num").cast("double") / (F.col("n") * 1000000.0)).alias(
            "entropy_nats"
        ),
    ).orderBy("user_id")


@query(
    "q_events_time_to_convert",
    oracle="""
WITH su AS (
  SELECT user_id,
         min(epoch_us(CAST(ts AS TIMESTAMP))) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id,
         CAST(min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS BIGINT)
           AS purchase_us,
         CAST(su.signup_us AS BIGINT) AS signup_us
  FROM events e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > su.signup_us
  GROUP BY e.user_id, su.signup_us
)
SELECT user_id, signup_us, purchase_us,
       purchase_us - signup_us AS delta_us,
       (purchase_us - signup_us) // 1000000 AS delta_sec
FROM conv
ORDER BY user_id
""",
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency per user: first signup, first
    subsequent purchase, and the exact µs gap — the product-analytics
    funnel-timing primitive (its distribution feeds activation
    dashboards and the cohort views). Timestamps compare as
    unix_micros on BOTH engines (the ns-fixture hazard: DuckDB keeps
    ns, Spark truncates to µs — casting to TIMESTAMP first makes the
    comparison µs-exact on both sides, per the sessionization
    convention).

    Scale shape: two filtered user-keyed min-aggregates (map-side
    combinable) and one user-keyed join — everything rides the user
    partitioning; the conditional 'first purchase AFTER signup' stays
    inside the aggregate (min over the filtered join), no window."""
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.unix_micros("ts") > F.col("signup_us"))
        .groupBy("user_id", "signup_us")
        .agg(F.min(F.unix_micros("ts")).cast("long").alias("purchase_us"))
    )
    return conv.select(
        "user_id",
        F.col("signup_us").cast("long").alias("signup_us"),
        "purchase_us",
        (F.col("purchase_us") - F.col("signup_us")).alias("delta_us"),
        F.expr("(purchase_us - signup_us) DIV 1000000").alias("delta_sec"),
    ).orderBy("user_id")


@query(
    "q_time_sax_motifs",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
           // 3600 AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
rk AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM hourly
),
qs AS (
  SELECT
    max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
    max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS q2,
    max(CASE WHEN rn = (3 * n + 1) // 4 THEN v END) AS q3
  FROM rk
),
seg AS (
  SELECT x // 24 AS day, (x % 24) // 6 AS s,
         CAST(SUM(v) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
  FROM hourly GROUP BY 1, 2
),
sym AS (
  SELECT day, s,
         CASE WHEN sv < cnt * qs.q1 THEN 'a'
              WHEN sv < cnt * qs.q2 THEN 'b'
              WHEN sv < cnt * qs.q3 THEN 'c'
              ELSE 'd' END AS c
  FROM seg, qs
),
words AS (
  SELECT day, string_agg(c, '' ORDER BY s) AS sax_word
  FROM sym GROUP BY day
)
SELECT sax_word, CAST(count(*) AS BIGINT) AS n_days
FROM words
GROUP BY sax_word
ORDER BY n_days DESC, sax_word
""",
)
def q_time_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization + daily motif discovery: each day's hourly
    series compresses to a 4-symbol word (PAA over four 6-hour
    segments, symbols from the series' own exact quartiles), and the
    word-frequency table surfaces recurring intraday shapes — the
    classic time-series-mining pipeline (Lin et al.'s SAX) that turns
    pattern matching into string matching at 100 TB.

    Determinism: quartiles are type-1 (value at an exact rank — well
    defined under ties because the VALUE at rank k doesn't depend on
    tie order), segment means never divide (segment sum compares
    against cnt·quartile by integer cross-multiplication), and the
    word is an ordered concat of 4 symbols.

    Scale shape: the hourly rollup is the only corpus-sized shuffle;
    ranking runs on the CALENDAR-bounded series table (≤ thousands of
    rows — the ACF/SES argument), thresholds broadcast as one row, and
    the segment/word/motif aggregates key on the day."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    hourly = scoped_persist(hourly)
    rk = hourly.select(
        "v",
        F.row_number().over(Window.orderBy("v")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    qs = rk.agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("v"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("v"))).alias("q2"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 1) DIV 4"), F.col("v"))
        ).alias("q3"),
    )
    seg = hourly.groupBy(
        F.expr("x DIV 24").alias("day"), F.expr("(x % 24) DIV 6").alias("s")
    ).agg(F.sum("v").alias("sv"), F.count("*").alias("cnt"))
    sym = seg.crossJoin(F.broadcast(qs)).select(
        "day",
        "s",
        F.when(F.col("sv") < F.col("cnt") * F.col("q1"), "a")
        .when(F.col("sv") < F.col("cnt") * F.col("q2"), "b")
        .when(F.col("sv") < F.col("cnt") * F.col("q3"), "c")
        .otherwise("d")
        .alias("c"),
    )
    words = sym.groupBy("day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("s", "c"))),
                lambda t: t["c"],
            ),
        ).alias("sax_word")
    )
    return (
        words.groupBy("sax_word")
        .agg(F.count("*").cast("long").alias("n_days"))
        .orderBy(F.desc("n_days"), F.asc("sax_word"))
    )


@query(
    "q_events_interarrival",
    oracle="""
WITH seq AS (
  SELECT event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 1000000 AS t,
         lag(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 1000000)
           OVER (PARTITION BY event_type
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_t
  FROM events
),
gaps AS (
  SELECT event_type, t - prev_t AS d
  FROM seq WHERE prev_t IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(SUM(d) AS BIGINT) AS sum_sec,
       CAST(SUM(d * d) AS BIGINT) AS sumsq_sec,
       CAST(count(*) * SUM(d * d) - SUM(d) * SUM(d) AS BIGINT)
         AS cv2_num,
       CAST(SUM(d) * SUM(d) AS BIGINT) AS cv2_den,
       CAST(count(*) * SUM(d * d) - SUM(d) * SUM(d) AS DOUBLE)
         / (SUM(d) * SUM(d)) AS cv2
FROM gaps
GROUP BY event_type
ORDER BY event_type
""",
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time dispersion per event type: the squared
    coefficient of variation of whole-second gaps — the Poisson test
    for traffic (CV² ≈ 1 memoryless, ≫ 1 bursty, ≪ 1 paced/batched);
    the shape statistic capacity planning and bot detection both read
    first. Exact: gaps are integer seconds off the µs-exact timeline
    (ns-fixture-safe ordering with the event_id tie-break), CV² is the
    cross-multiplied form n·Σd² − (Σd)² over (Σd)² — BIGINTs end to
    end, one final division of exact values.

    Scale shape: one lag window per event_type partition (the series
    key shuffle), then a per-type moment rollup riding the same
    partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t = F.expr("unix_micros(ts) DIV 1000000")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", t.alias("t"), F.lag(t).over(w).alias("prev_t")
    ).filter(F.col("prev_t").isNotNull())
    gaps = seq.select("event_type", (F.col("t") - F.col("prev_t")).alias("d"))
    n = F.count("*")
    sd = F.sum("d")
    sdd = F.sum(F.col("d") * F.col("d"))
    num = n * sdd - sd * sd
    return (
        gaps.groupBy("event_type")
        .agg(
            n.alias("n_gaps"),
            sd.cast("long").alias("sum_sec"),
            sdd.cast("long").alias("sumsq_sec"),
            num.cast("long").alias("cv2_num"),
            (sd * sd).cast("long").alias("cv2_den"),
            (num.cast("double") / (sd * sd)).alias("cv2"),
        )
        .orderBy("event_type")
    )


@query(
    "q_stream_lateness_histogram",
    oracle="""
WITH feed AS (
  SELECT event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
         event_id + CASE WHEN event_id % 13 = 0 THEN 500 ELSE 0 END
           AS arrival_key
  FROM events
),
arr AS (
  SELECT t_us,
         max(t_us) OVER (ORDER BY arrival_key, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS seen_us
  FROM feed
),
late AS (
  SELECT CASE WHEN seen_us IS NULL OR seen_us <= t_us THEN 0
              ELSE (seen_us - t_us) // 1000000 END AS l_sec
  FROM arr
),
banded AS (
  SELECT CASE WHEN l_sec = 0 THEN '0_on_time'
              WHEN l_sec < 60 THEN '1_under_1m'
              WHEN l_sec < 900 THEN '2_under_15m'
              WHEN l_sec < 3600 THEN '3_under_1h'
              WHEN l_sec < 21600 THEN '4_under_6h'
              ELSE '5_over_6h' END AS band,
         l_sec
  FROM late
)
SELECT band, CAST(count(*) AS BIGINT) AS n,
       CAST(min(l_sec) AS BIGINT) AS min_sec,
       CAST(max(l_sec) AS BIGINT) AS max_sec
FROM banded
GROUP BY band
ORDER BY band
""",
)
def q_stream_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness histogram against the global high-watermark — the
    observability panel that DRIVES watermark configuration
    (`withWatermark`'s delay should sit above the bulk of this
    distribution; the top band is what that grace period would drop).
    The fixture's feed is perfectly ordered (verified: zero inversions
    in event_id order), so the arrival sequence delays every 13th
    event by 500 positions — the deterministic no-broker stand-in for
    network-delayed delivery, computed identically on both engines.
    Lateness measures in exact whole seconds off the µs-exact
    timeline; bands use integer thresholds only.

    Scale shape: the running max in arrival order is the same
    distributed two-phase prefix max as q_stream_late_data_drop —
    arrival positions bucket by ``arrival_key div 65536`` (monotone in
    arrival order), per-bucket maxima roll up to a tiny table whose
    exclusive prefix max broadcasts back, and the within-bucket
    exclusive running max is partitioned by bucket — no unpartitioned
    data window anywhere; then a 6-row banded aggregate bounded by the
    band list."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.expr(
            "event_id + CASE WHEN event_id % 13 = 0 THEN 500 ELSE 0 END"
        ).alias("arrival_key"),
    ).withColumn("bucket", F.expr("arrival_key DIV 65536"))
    bucket_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_bucket_max = (
        feed.groupBy("bucket")
        .agg(F.max("t_us").alias("bmax"))
        .select("bucket", F.max("bmax").over(bucket_w).alias("carry_us"))
    )
    in_w = (
        Window.partitionBy("bucket")
        .orderBy("arrival_key", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = (
        feed.withColumn("in_max", F.max("t_us").over(in_w))
        .join(F.broadcast(prev_bucket_max), "bucket")
        .select(
            "t_us",
            F.greatest(F.col("in_max"), F.col("carry_us")).alias("seen_us"),
        )
    )
    l_sec = F.when(
        F.col("seen_us").isNull() | (F.col("seen_us") <= F.col("t_us")),
        F.lit(0),
    ).otherwise(F.expr("(seen_us - t_us) DIV 1000000"))
    banded = arr.select(l_sec.alias("l_sec")).select(
        F.when(F.col("l_sec") == 0, "0_on_time")
        .when(F.col("l_sec") < 60, "1_under_1m")
        .when(F.col("l_sec") < 900, "2_under_15m")
        .when(F.col("l_sec") < 3600, "3_under_1h")
        .when(F.col("l_sec") < 21600, "4_under_6h")
        .otherwise("5_over_6h")
        .alias("band"),
        "l_sec",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.min("l_sec").cast("long").alias("min_sec"),
            F.max("l_sec").cast("long").alias("max_sec"),
        )
        .orderBy("band")
    )


@query(
    "q_time_bollinger",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000000
           AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
roll AS (
  SELECT x, v,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(SUM(v) OVER w AS BIGINT) AS s,
         CAST(SUM(v * v) OVER w AS BIGINT) AS ss
  FROM hourly
  WINDOW w AS (ORDER BY x ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT x, v, n, s, ss,
         n * ss - s * s AS var_n2,
         CASE WHEN (n * v - s) > 0
                   AND CAST((n * v - s) AS DOUBLE) * (n * v - s)
                       > 4.0 * (n * ss - s * s) THEN 1
              WHEN (n * v - s) < 0
                   AND CAST((n * v - s) AS DOUBLE) * (n * v - s)
                       > 4.0 * (n * ss - s * s) THEN -1
              ELSE 0 END AS breach
  FROM roll WHERE n = 24
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN breach = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach_up,
       CAST(SUM(CASE WHEN breach = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach_down,
       CAST(max(var_n2) AS BIGINT) AS max_var_n2,
       CAST(min(var_n2) AS BIGINT) AS min_var_n2
FROM scored
""",
)
def q_time_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach detection over the hourly series: a point
    breaches when it sits more than 2 rolling standard deviations from
    the 24-hour rolling mean — the volatility-envelope alarm every
    monitoring/trading stack runs. Exact despite the σ: the breach
    test |v − mean| > 2σ squares and clears every division —
    (n·v − s)² > 4·(n·ss − s²) — so the decision compares one
    correctly-rounded product against exact BIGINTs, sign-split to
    tell up-breaches from down (squaring would otherwise lose the
    side). Only full 24-point windows score.

    Scale shape: the hourly rollup shuffles once; the rolling window
    runs over the CALENDAR-bounded series (the SES/ACF argument), and
    the output is a 1-row summary."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) DIV 3600000000").alias("x")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    w = Window.orderBy("x").rowsBetween(-23, 0)
    roll = hourly.select(
        "x",
        "v",
        F.count("*").over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("ss"),
    ).filter(F.col("n") == 24)
    dev = F.col("n") * F.col("v") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    breach = (
        F.when(
            (dev > 0)
            & (dev.cast("double") * dev > 4.0 * var_n2),
            1,
        )
        .when(
            (dev < 0)
            & (dev.cast("double") * dev > 4.0 * var_n2),
            -1,
        )
        .otherwise(0)
    )
    scored = roll.select(var_n2.alias("var_n2"), breach.alias("breach"))
    return scored.agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(F.col("breach") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_breach_up"),
        F.sum(F.when(F.col("breach") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_breach_down"),
        F.max("var_n2").cast("long").alias("max_var_n2"),
        F.min("var_n2").cast("long").alias("min_var_n2"),
    )


@query(
    "q_events_hill_tail_index",
    oracle="""
WITH fx AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v, event_id
  FROM events
),
topk AS (
  SELECT v, row_number() OVER (ORDER BY v DESC, event_id) AS rk
  FROM fx
  QUALIFY rk <= 51
),
kth AS (SELECT v AS vk FROM topk WHERE rk = 51),
s AS (
  SELECT CAST(SUM(CAST(FLOOR(ln(topk.v) * 1000000) AS BIGINT)
               - CAST(FLOOR(ln(kth.vk) * 1000000) AS BIGINT)) AS BIGINT)
           AS hill_num,
         CAST(count(*) AS BIGINT) AS k_used,
         CAST(max(kth.vk) AS BIGINT) AS threshold_fx
  FROM topk, kth WHERE topk.rk <= 50
)
SELECT k_used, threshold_fx, hill_num,
       CAST(hill_num AS DOUBLE) / (k_used * 1000000.0) AS hill_inv_alpha,
       k_used * 1000000.0 / hill_num AS alpha_hat
FROM s
""",
)
def q_events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index over the
    top-50 order statistics: 1/α̂ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) — THE
    heavy-tail detector (α < 2 means infinite variance: percentile
    SLOs and mean-based capacity plans stop working; every latency/
    spend distribution audit starts here).

    Determinism: the log-ratio is a difference of integer-argument
    fixed-point logs (values are exact cents), the order statistics
    come from a total order (value DESC, event_id), and the two final
    divisions are of exact values. The k+1st value is the threshold,
    reported in fixed-point.

    Scale shape: the top-51 cut is a TakeOrderedAndProject (per-task
    k-heap — never a global sort), the 51-row table broadcasts, and
    everything after is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    fx = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        "event_id",
    )
    from pyspark.sql import Window

    topk = (
        fx.orderBy(F.desc("v"), F.asc("event_id"))
        .limit(51)
        .select(
            "v",
            F.row_number()
            .over(Window.orderBy(F.desc("v"), F.asc("event_id")))
            .alias("rk"),
        )
    )
    kth = topk.filter(F.col("rk") == 51).select(F.col("v").alias("vk"))
    lnfx = lambda col: F.floor(F.log(col.cast("double")) * 1000000).cast(
        "long"
    )
    s = (
        topk.filter(F.col("rk") <= 50)
        .crossJoin(F.broadcast(kth))
        .agg(
            F.sum(lnfx(F.col("v")) - lnfx(F.col("vk")))
            .cast("long")
            .alias("hill_num"),
            F.count("*").alias("k_used"),
            F.max("vk").cast("long").alias("threshold_fx"),
        )
    )
    return s.select(
        "k_used",
        "threshold_fx",
        "hill_num",
        (
            F.col("hill_num").cast("double")
            / (F.col("k_used") * 1000000.0)
        ).alias("hill_inv_alpha"),
        (
            F.col("k_used") * 1000000.0 / F.col("hill_num")
        ).alias("alpha_hat"),
    )


@query(
    "q_time_rsi",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000000
           AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
delta AS (
  SELECT x, v, v - lag(v) OVER (ORDER BY x) AS d
  FROM hourly
),
gl AS (
  SELECT x,
         CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
         CASE WHEN d < 0 THEN -d ELSE 0 END AS loss,
         CAST(count(*) OVER w AS BIGINT) AS n
  FROM delta WHERE d IS NOT NULL
  WINDOW w AS (ORDER BY x ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
roll AS (
  SELECT x,
         CAST(SUM(gain) OVER w AS BIGINT) AS g,
         CAST(SUM(loss) OVER w AS BIGINT) AS l,
         n
  FROM gl
  WINDOW w AS (ORDER BY x ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT x, g, l,
       100.0 * g / (g + l) AS rsi
FROM roll WHERE n = 24 AND g + l > 0
ORDER BY x
""",
)
def q_time_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Cutler's simple-average form) over the
    hourly value series: RSI = 100·G/(G+L) where G/L are 24-hour sums
    of up-moves and down-moves — the mean-reversion oscillator form
    whose SMA basis (unlike Wilder's recursive EWMA) is expressible as
    a plain frame aggregate, hence exactly distributable. Deltas,
    gains, losses and their rolling sums are all exact BIGINT cents;
    the single closing division of two exact longs is the only double.
    Only full 24-delta windows with at least one move score.

    Scale shape: one shuffle to the hourly rollup, then an ordered
    frame window over the calendar-bounded series (≤ a few thousand
    rows regardless of fact scale — the q_time_bollinger argument); at
    100 TB the same query runs per-key (partitionBy symbol/tenant) with
    identical frame logic and no global order."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) DIV 3600000000").alias("x")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    wo = Window.orderBy("x")
    delta = hourly.select(
        "x", (F.col("v") - F.lag("v").over(wo)).alias("d")
    ).filter(F.col("d").isNotNull())
    wf = Window.orderBy("x").rowsBetween(-23, 0)
    roll = delta.select(
        "x",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .over(wf)
        .alias("g"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0))
        .over(wf)
        .alias("l"),
        F.count("*").over(wf).alias("n"),
    )
    return (
        roll.filter((F.col("n") == 24) & (F.col("g") + F.col("l") > 0))
        .select(
            "x",
            F.col("g").cast("long").alias("g"),
            F.col("l").cast("long").alias("l"),
            (
                100.0 * F.col("g").cast("double")
                / (F.col("g") + F.col("l")).cast("double")
            ).alias("rsi"),
        )
        .orderBy("x")
    )


@query(
    "q_time_changepoint",
    oracle="""
WITH hourly AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000000
           AS x,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
seq AS (
  SELECT x, c,
         CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
         CAST(SUM(c) OVER (ORDER BY x) AS BIGINT) AS s
  FROM hourly
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t, CAST(SUM(c) AS BIGINT) AS st
  FROM hourly
),
scored AS (
  SELECT seq.x, seq.i, seq.s, tot.t, tot.st,
         CAST(seq.s AS DOUBLE) * seq.s / seq.i
           + CAST(tot.st - seq.s AS DOUBLE) * (tot.st - seq.s)
             / (tot.t - seq.i) AS fit
  FROM seq, tot WHERE seq.i < tot.t
),
best AS (
  SELECT x, i, s, t, st, fit,
         row_number() OVER (ORDER BY fit DESC, i) AS rk
  FROM scored
)
SELECT x AS split_x, i AS n_left, t - i AS n_right, s AS sum_left,
       st - s AS sum_right,
       CAST(s AS DOUBLE) / i AS mean_left,
       CAST(st - s AS DOUBLE) / (t - i) AS mean_right
FROM best WHERE rk = 1
""",
)
def q_time_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection over the hourly event-count
    series: the split k maximizing the between-segment fit
    S_k²/k + (S_T−S_k)²/(T−k) — equivalently the first step of binary
    segmentation / CUSUM-style level-shift localization (the offline
    twin of q_anomaly_cusum, which only FLAGS drift; this one LOCATES
    it). Prefix sums and counts are exact BIGINTs; the fit score
    evaluates per-candidate in one operation-for-operation double
    expression over exact longs (casting S before the square because
    S² exceeds BIGINT at scale), and the argmax breaks double ties on
    the candidate index — fully deterministic.

    Scale shape: one shuffle to the hourly rollup; the candidate scan
    is a prefix window + 1-row broadcast of the totals over the
    calendar-bounded series; output is one row. At 100 TB the same
    plan runs partitioned per series key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) DIV 3600000000").alias("x")
    ).agg(F.count("*").alias("c"))
    wo = Window.orderBy("x")
    seq = hourly.select(
        "x",
        F.row_number().over(wo).cast("long").alias("i"),
        F.sum("c").over(wo).cast("long").alias("s"),
    )
    tot = hourly.agg(
        F.count("*").cast("long").alias("t"),
        F.sum("c").cast("long").alias("st"),
    )
    scored = (
        seq.crossJoin(F.broadcast(tot))
        .filter(F.col("i") < F.col("t"))
        .select(
            "x",
            "i",
            "s",
            "t",
            "st",
            (
                F.col("s").cast("double") * F.col("s") / F.col("i")
                + (F.col("st") - F.col("s")).cast("double")
                * (F.col("st") - F.col("s"))
                / (F.col("t") - F.col("i"))
            ).alias("fit"),
        )
    )
    wr = Window.orderBy(F.desc("fit"), F.asc("i"))
    return (
        scored.select(
            "*", F.row_number().over(wr).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("x").alias("split_x"),
            F.col("i").alias("n_left"),
            (F.col("t") - F.col("i")).alias("n_right"),
            F.col("s").alias("sum_left"),
            (F.col("st") - F.col("s")).alias("sum_right"),
            (F.col("s").cast("double") / F.col("i")).alias("mean_left"),
            (
                (F.col("st") - F.col("s")).cast("double")
                / (F.col("t") - F.col("i"))
            ).alias("mean_right"),
        )
    )


@query(
    "q_power_user_curve",
    oracle="""
WITH ud AS (
  SELECT user_id,
         CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
              AS BIGINT) AS active_days
  FROM events GROUP BY user_id
)
SELECT active_days, CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(count(*)) OVER (ORDER BY active_days DESC) AS BIGINT)
         AS n_users_at_least
FROM ud GROUP BY active_days
ORDER BY active_days
""",
)
def q_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve (the 'L30 histogram'): how many users were
    active on exactly d distinct days, with the cumulative ≥d count —
    THE engagement-depth report (its shape — smile vs decay —
    diagnoses a product's habit formation). Exact by construction:
    distinct-day counts are integers from calendar truncation, the
    cumulative rides a window over the ≤31-row histogram.

    Scale shape: the user×day dedup is one shuffle on (user, day)
    (map-side combinable via partial distinct), the per-user rollup
    rides the same user keying, and the histogram + cumulative run
    over a day-bounded few-dozen-row table — no per-user window
    anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("active_days"))
    )
    hist = ud.groupBy("active_days").agg(
        F.count("*").cast("long").alias("n_users")
    )
    w = Window.orderBy(F.desc("active_days")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        "active_days",
        "n_users",
        F.sum("n_users").over(w).cast("long").alias("n_users_at_least"),
    ).orderBy("active_days")


@query(
    "q_time_stl_additive",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY 1
),
tr AS (
  SELECT d, v,
         CAST(SUM(v) OVER w AS BIGINT) AS trend7,
         CAST(count(*) OVER w AS BIGINT) AS n7
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT d, d % 7 AS dow, v, trend7, 7 * v - trend7 AS det7
  FROM tr WHERE n7 = 7
),
seas AS (
  SELECT dow, CAST(SUM(det7) AS BIGINT) AS s_num,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM det GROUP BY dow
)
SELECT det.d, det.dow, det.v, det.trend7, det.det7,
       seas.s_num, seas.s_cnt,
       CAST(seas.s_num AS DOUBLE) / (7.0 * seas.s_cnt) AS seasonal,
       CAST(det.det7 AS DOUBLE) / 7.0
         - CAST(seas.s_num AS DOUBLE) / (7.0 * seas.s_cnt) AS remainder
FROM det JOIN seas ON seas.dow = det.dow
ORDER BY det.d
""",
)
def q_time_stl_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue (the classical
    decompose / moving-average STL ancestor): trend = centered 7-day
    moving average, seasonal = per-day-of-week mean of the detrended
    series, remainder = what's left — the series triage every capacity
    planner and anomaly gate runs before picking a model. Exactness:
    the trend is kept as the 7-day SUM (detrended ×7: det7 = 7v −
    Σ₇v, all BIGINT cents), day-of-week is d mod 7 on epoch days (no
    engine dayofweek() convention involved), and the only doubles are
    two final divisions of exact longs in operation-for-operation
    identical expressions. Only full 7-day windows decompose.

    Scale shape: one shuffle to the daily rollup; the trend frame runs
    over the calendar-bounded series; the 7-row seasonal table
    broadcasts back. At 100 TB the identical plan runs per series key
    with the frame window partitioned."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("d")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    det = (
        daily.select(
            "d",
            "v",
            F.sum("v").over(w7).cast("long").alias("trend7"),
            F.count("*").over(w7).alias("n7"),
        )
        .filter(F.col("n7") == 7)
        .select(
            "d",
            (F.col("d") % 7).alias("dow"),
            "v",
            "trend7",
            (7 * F.col("v") - F.col("trend7")).alias("det7"),
        )
    )
    det = scoped_persist(det)
    seas = det.groupBy("dow").agg(
        F.sum("det7").cast("long").alias("s_num"),
        F.count("*").cast("long").alias("s_cnt"),
    )
    seasonal = F.col("s_num").cast("double") / (7.0 * F.col("s_cnt"))
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            "d",
            "dow",
            "v",
            "trend7",
            "det7",
            "s_num",
            "s_cnt",
            seasonal.alias("seasonal"),
            (F.col("det7").cast("double") / 7.0 - seasonal).alias(
                "remainder"
            ),
        )
        .orderBy("d")
    )


@query(
    "q_eval_calibration_bins",
    oracle="""
WITH scored AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) % 101 AS p_pct,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
bins AS (
  SELECT p_pct // 10 AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(p_pct) AS BIGINT) AS sum_p_pct,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
)
SELECT bin, n, sum_p_pct, n_pos,
       CAST(sum_p_pct AS DOUBLE) / (100.0 * n) AS mean_p,
       CAST(n_pos AS DOUBLE) / n AS pos_rate,
       CAST(sum_p_pct AS DOUBLE) / (100.0 * n)
         - CAST(n_pos AS DOUBLE) / n AS gap,
       CAST(n AS DOUBLE)
         * (CAST(sum_p_pct AS DOUBLE) / (100.0 * n)
            - CAST(n_pos AS DOUBLE) / n)
         * (CAST(sum_p_pct AS DOUBLE) / (100.0 * n)
            - CAST(n_pos AS DOUBLE) / n) AS reliability_term
FROM bins ORDER BY bin
""",
)
def q_eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-curve bins for a probabilistic classifier (the
    reliability diagram + per-bin reliability term of the Brier
    decomposition): bucket predictions by decile, compare mean
    predicted probability against the empirical positive rate — the
    companion diagnostic to q_eval_auc (AUC measures RANKING,
    calibration measures whether 0.8 MEANS 80%). The pseudo-predictor
    derives deterministically from the value column (fixed-point
    cents mod 101 → an exact integer percent); every bin statistic is
    an exact BIGINT, and mean_p / pos_rate / gap / n·gap² evaluate in
    identical double expressions over those longs.

    Scale shape: ONE map-side-combinable aggregate over the scored
    scan into ≤11 bins — the same single-shuffle reduction as
    q_agg_ols_regression; no ranking pass, no join."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") % 101)
        .alias("p_pct"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy(
        F.expr("p_pct DIV 10").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("p_pct").cast("long").alias("sum_p_pct"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    mean_p = F.col("sum_p_pct").cast("double") / (100.0 * F.col("n"))
    pos_rate = F.col("n_pos").cast("double") / F.col("n")
    gap = mean_p - pos_rate
    return bins.select(
        "bin",
        "n",
        "sum_p_pct",
        "n_pos",
        mean_p.alias("mean_p"),
        pos_rate.alias("pos_rate"),
        gap.alias("gap"),
        (F.col("n").cast("double") * gap * gap).alias("reliability_term"),
    ).orderBy("bin")


@query(
    "q_eval_forecast_backtest",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY 1
),
paired AS (
  SELECT a.d, a.d % 7 AS dow, a.v, f.v AS forecast,
         a.v - f.v AS err
  FROM daily a JOIN daily f ON f.d = a.d - 7
)
SELECT dow, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN err >= 0 THEN err ELSE -err END) AS BIGINT)
         AS sum_abs_err_c,
       CAST(SUM(err) AS BIGINT) AS sum_err_c,
       CAST(SUM(CASE WHEN err >= 0 THEN err ELSE -err END) AS DOUBLE)
         / count(*) AS mae_c,
       CAST(SUM(err) AS DOUBLE) / count(*) AS bias_c
FROM paired GROUP BY dow ORDER BY dow
""",
)
def q_eval_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (ŷ_d = y_{d−7}) over daily revenue: per day-of-week MAE and bias
    — the baseline every forecasting system must beat before a fancier
    model (Holt, SES — both implemented here) earns its complexity,
    evaluated the honest way: each origin forecasts only from its own
    past. The 7-day-back pairing is a calendar-exact self-JOIN on
    d−7 (a row-lag would silently forecast from 7 PRESENT days,
    lying across gaps); errors are exact cent BIGINTs, the two
    closing divisions double.

    Scale shape: one shuffle to the daily rollup; the self-join keys
    on the day over the calendar-bounded series; 7-row output. At
    100 TB the identical plan runs per series key."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("d")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    daily = scoped_persist(daily)
    a, f = daily.alias("a"), daily.alias("f")
    paired = a.join(f, F.col("f.d") == F.col("a.d") - 7).select(
        (F.col("a.d") % 7).alias("dow"),
        (F.col("a.v") - F.col("f.v")).alias("err"),
    )
    abs_err = F.when(F.col("err") >= 0, F.col("err")).otherwise(
        -F.col("err")
    )
    return (
        paired.groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(abs_err).cast("long").alias("sum_abs_err_c"),
            F.sum("err").cast("long").alias("sum_err_c"),
            (F.sum(abs_err).cast("double") / F.count("*")).alias("mae_c"),
            (F.sum("err").cast("double") / F.count("*")).alias("bias_c"),
        )
        .orderBy("dow")
    )


@query(
    "q_events_window_funnel",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
s1 AS (
  SELECT user_id, event_id, event_type, t,
         max(CASE WHEN event_type = 'view' THEN t END) OVER w AS pv
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2 AS (
  SELECT user_id, event_id, event_type, t, pv,
         (event_type = 'click' AND pv IS NOT NULL
          AND t <= pv + 86400000000) AS c_valid
  FROM s1
),
s3 AS (
  SELECT user_id, event_type, t, pv, c_valid,
         max(CASE WHEN c_valid THEN pv END) OVER w AS m2pv
  FROM s2
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
lv AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' AND m2pv IS NOT NULL
                   AND m2pv >= t - 86400000000 THEN 3
              WHEN c_valid THEN 2
              WHEN event_type = 'view' THEN 1
              ELSE 0 END AS lvl
  FROM s3
)
SELECT user_id, CAST(max(lvl) AS BIGINT) AS funnel_level
FROM lv GROUP BY user_id ORDER BY user_id
""",
)
def q_events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel depth per user (the windowFunnel operator of
    product-analytics engines): the deepest view→click→purchase chain
    whose every step happens within 24 h of the chain's FIRST event —
    unlike q_funnel_conversion (global first-times), this finds ANY
    qualifying chain, which is the per-key state machine a stream
    processor runs. Computed in TWO linear window passes, not a
    3-way join: pass 1 carries the latest view time (pv) forward;
    pass 2 carries the latest pv OWNED BY a window-valid click —
    maximizing the carried window-start is exactly the greedy that
    decides purchase eligibility (a purchase completes level 3 iff
    the best valid click's view is within 24 h of it). All event-time
    arithmetic is exact µs BIGINTs; (ts, event_id) gives a total
    order.

    Scale shape: one shuffle keys the union on user_id; both window
    passes and the closing max ride that single partitioning —
    linear in events, zero candidate blow-up (the 3-way-join funnel
    the oracle COULD have used is quadratic per user; the merge form
    is why this runs at 100 TB)."""
    from pyspark.sql import Window

    DAY = 86400000000
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s1 = e.select(
        "*",
        F.max(
            F.when(F.col("event_type") == "view", F.col("t"))
        ).over(w).alias("pv"),
    )
    s2 = s1.select(
        "*",
        (
            (F.col("event_type") == "click")
            & F.col("pv").isNotNull()
            & (F.col("t") <= F.col("pv") + DAY)
        ).alias("c_valid"),
    )
    s3 = s2.select(
        "user_id",
        "event_type",
        "t",
        "c_valid",
        F.max(F.when(F.col("c_valid"), F.col("pv"))).over(w).alias("m2pv"),
    )
    lvl = (
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("m2pv").isNotNull()
            & (F.col("m2pv") >= F.col("t") - DAY),
            3,
        )
        .when(F.col("c_valid"), 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
    )
    return (
        s3.select("user_id", lvl.alias("lvl"))
        .groupBy("user_id")
        .agg(F.max("lvl").cast("long").alias("funnel_level"))
        .orderBy("user_id")
    )


@query(
    "q_stream_circuit_breaker",
    oracle="""
WITH e AS (
  SELECT user_id, event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t,
         (event_type = 'error') AS is_err
  FROM events
),
seq AS (
  SELECT user_id, event_id, t, is_err,
         row_number() OVER wo AS rn,
         CASE WHEN is_err THEN row_number() OVER wo
              - row_number() OVER (PARTITION BY user_id, is_err
                                   ORDER BY t, event_id) END AS island,
         min(CASE WHEN NOT is_err THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_ok_t
  FROM e
  WINDOW wo AS (PARTITION BY user_id ORDER BY t, event_id)
),
runs AS (
  SELECT user_id, island,
         CAST(count(*) AS BIGINT) AS run_len,
         min(t) AS first_err_t,
         min(CASE WHEN rn_in = 3 THEN t END) AS open_t,
         min(CASE WHEN rn_in = run_n THEN next_ok_t END) AS recovery_t
  FROM (SELECT *,
               row_number() OVER (PARTITION BY user_id, island
                                  ORDER BY t, event_id) AS rn_in,
               CAST(count(*) OVER (PARTITION BY user_id, island)
                    AS BIGINT) AS run_n
        FROM seq WHERE is_err)
  GROUP BY user_id, island
)
SELECT user_id, run_len, first_err_t, open_t, recovery_t,
       recovery_t - open_t AS downtime_us
FROM runs
WHERE run_len >= 3
ORDER BY user_id, first_err_t
""",
)
def q_stream_circuit_breaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circuit-breaker episode report: a user's breaker OPENS on the
    3rd consecutive error and recovers at the first subsequent
    successful event — per episode the error-burst length, open time,
    recovery time and downtime, i.e. the batch replay of the
    resilience state machine every service mesh runs per key (the
    streaming twin is a per-key processor with a consecutive-error
    counter and a reset-on-success timer). Composition of two island
    patterns: consecutive-error runs via the rn−rn_type difference
    (the q_events_longest_streak recipe), and recovery via the
    reverse-prefix next-success carry (the merge-form as-of join —
    never an event×event join). All times exact µs BIGINTs.

    Scale shape: ONE shuffle on user_id; every window (sequence
    numbers, island ids, reverse next-success, in-run ranks) rides
    that single partitioning; the per-run rollup keys on (user,
    island). Linear in events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("t"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    w_typ = Window.partitionBy("user_id", "is_err").orderBy(
        "t", "event_id"
    )
    w_next = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    seq = e.select(
        "user_id",
        "event_id",
        "t",
        "is_err",
        F.when(
            F.col("is_err"),
            F.row_number().over(wo) - F.row_number().over(w_typ),
        ).alias("island"),
        F.min(F.when(~F.col("is_err"), F.col("t")))
        .over(w_next)
        .alias("next_ok_t"),
    )
    errs = seq.filter(F.col("is_err"))
    w_run = Window.partitionBy("user_id", "island").orderBy(
        "t", "event_id"
    )
    w_runall = Window.partitionBy("user_id", "island")
    marked = errs.select(
        "user_id",
        "island",
        "t",
        "next_ok_t",
        F.row_number().over(w_run).alias("rn_in"),
        F.count("*").over(w_runall).alias("run_n"),
    )
    runs = marked.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("run_len"),
        F.min("t").alias("first_err_t"),
        F.min(F.when(F.col("rn_in") == 3, F.col("t"))).alias("open_t"),
        F.min(
            F.when(F.col("rn_in") == F.col("run_n"), F.col("next_ok_t"))
        ).alias("recovery_t"),
    )
    return (
        runs.filter(F.col("run_len") >= 3)
        .select(
            "user_id",
            "run_len",
            "first_err_t",
            "open_t",
            "recovery_t",
            (F.col("recovery_t") - F.col("open_t")).alias("downtime_us"),
        )
        .orderBy("user_id", "first_err_t")
    )


@query(
    "q_events_clamped_balance",
    oracle="""
WITH tx AS (
  SELECT user_id, ts, event_id,
         CASE event_type
           WHEN 'purchase' THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
           WHEN 'error' THEN -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS delta
  FROM events
  WHERE event_type IN ('purchase', 'error')
),
pfx AS (
  SELECT user_id, ts, event_id, delta,
         CAST(SUM(delta) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS p
  FROM tx
),
clamp AS (
  SELECT user_id, delta, p,
         p - LEAST(CAST(0 AS BIGINT),
                   CAST(MIN(p) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT))
           AS bal
  FROM pfx
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_tx,
       CAST(SUM(delta) AS BIGINT) AS net_cents,
       CAST(max(bal) AS BIGINT) AS peak_cents,
       CAST(SUM(delta) - LEAST(CAST(0 AS BIGINT), min(p)) AS BIGINT)
         AS final_cents
FROM clamp
GROUP BY user_id
ORDER BY user_id
""",
)
def q_events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user credit balance with a FLOOR AT ZERO: purchases credit,
    errors debit, and the balance can never go negative (overdrafts
    truncate) — the running-with-reset recurrence S_t = max(0,
    S_{t-1}+x_t) that naively demands sequential state.  Window-
    expressible via the prefix-min identity S_t = P_t − min(0,
    min_{k≤t} P_k): the clamp events are exactly the prefix-sum's
    running minima, so two stacked windows over the SAME (user, time)
    partitioning replace the sequential scan — the same
    recurrence-to-prefix reduction as q_time_max_drawdown's running
    max, applied to the dual (floor) side.  Emits net (unclamped),
    peak, and final clamped balance per user.

    Determinism: integer cents end to end; the order within a user is
    the total (ts, event_id) order (µs-exact both engines).

    Scale shape: both windows ride one per-user shuffle (partitioned,
    never global), and the final rollup is map-side combinable on the
    same key — one exchange total.  At 100 TB this is the standard
    per-key ledger pass; no driver state, no sequential scan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    tx = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"),
        )
        .when(
            F.col("event_type") == "error",
            -F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("delta"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pfx = tx.withColumn("p", F.sum("delta").over(w).cast("long"))
    clamp = pfx.withColumn(
        "bal",
        F.col("p")
        - F.least(F.lit(0).cast("long"), F.min("p").over(w).cast("long")),
    )
    return (
        clamp.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_tx"),
            F.sum("delta").cast("long").alias("net_cents"),
            F.max("bal").cast("long").alias("peak_cents"),
            (
                F.sum("delta")
                - F.least(F.lit(0).cast("long"), F.min("p"))
            )
            .cast("long")
            .alias("final_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "q_events_path_trigrams",
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM o
),
tri AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w2
           || '>' || lead(event_type, 2) OVER w2 AS trigram,
         lead(session_id, 2) OVER w2 = session_id AS same_session
  FROM s
  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT trigram, CAST(count(*) AS BIGINT) AS n
FROM tri
WHERE same_session AND trigram IS NOT NULL
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT 20
""",
)
def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 in-session event-type TRIGRAM paths: sessionize per user
    by 30-minute inactivity gaps (the lag-mark/prefix-sum islands
    recipe the bounce-rate report uses), then slide a 3-event window
    within each session and count paths corpus-wide — the next order
    up from q_events_transitions' Markov pairs, and the raw material
    of funnel discovery (which 3-step paths actually happen, vs the
    funnel you hypothesized in q_events_window_funnel).

    Determinism: in-session order is the total (ts, event_id) order;
    the trigram window never crosses a session boundary (the 2-ahead
    session check); top-20 rides (count DESC, trigram) — a total
    order.

    Scale shape: one per-user shuffle carries sessionization AND the
    lead window (same partitioning, Catalyst runs both in one sort);
    the trigram rollup is a |types|³-bounded aggregate
    (map-side-combinable) and the top-20 is TakeOrderedAndProject.
    No join, no second pass over events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    s = o.withColumn("session_id", F.sum("is_new").over(w))
    w2 = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    tri = s.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w2),
            F.lead("event_type", 2).over(w2),
        ).alias("trigram"),
        (F.lead("session_id", 2).over(w2) == F.col("session_id")).alias(
            "same_session"
        ),
        F.lead("event_type", 2).over(w2).alias("third"),
    )
    return (
        tri.filter(F.col("same_session") & F.col("third").isNotNull())
        .groupBy("trigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )
