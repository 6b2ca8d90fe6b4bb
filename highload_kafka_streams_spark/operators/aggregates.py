"""Grouping & aggregation operators (SURVEY.md §2.4).

Kafka Streams surface covered: ``KGroupedStream#count/reduce/aggregate``,
``KGroupedStream#cogroup``, plus the analytics extensions (distinct,
count-distinct, rollup/cube/grouping-sets) the oracle harness requires.

Spark-first design notes:
- every groupBy here compiles to partial (map-side) HashAggregate →
  Exchange on the group key → final HashAggregate; at 100 TB the
  pre-shuffle combine is what keeps shuffle volume ∝ |groups|, not |rows|
- aggregates over doubles use the deterministic decimal-backed forms in
  ``compat`` so the DuckDB oracle hash-matches bit-for-bit
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.compat import davg, davg_sql, dsum, dsum_sql
from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist


# ---------------------------------------------------------------------------
# flagship: pricing summary (filter → groupBy → 8 aggs → sort), TPC-H Q1 shape
# exercises scan→filter→project→partial agg→shuffle→final agg→sort,
# i.e. the whole batch lifecycle of SURVEY.md §3.2
# ---------------------------------------------------------------------------

@query(
    "q_pricing_summary",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity', 'sum_qty')},
  {dsum_sql('l_extendedprice', 'sum_base_price')},
  {dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {davg_sql('l_quantity', 'avg_qty')},
  {davg_sql('l_extendedprice', 'avg_price')},
  {davg_sql('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS equivalent: stream→groupBy(flag,status)→aggregate (KGroupedStream#aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# KGroupedStream#count / #reduce / #aggregate / #cogroup and analytics
# extensions (distinct, count-distinct, rollup/cube/grouping sets)
# ---------------------------------------------------------------------------

@query(
    "q_agg_count",
    oracle="""
SELECT user_id, event_type, count(*) AS n
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""",
)
def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGroupedStream#count — per-key record count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("user_id", "event_type")
    )


@query(
    "q_agg_reduce",
    oracle="""
SELECT user_id,
       min(value) AS min_value,
       max(value) AS max_value,
       SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q_agg_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGroupedStream#reduce — associative per-key folds (min/max exact,
    sum via the deterministic fixed-point form)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum("value", "sum_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q_agg_aggregate",
    oracle="""
SELECT event_type,
       count(*) AS n,
       SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 / COUNT(value)
         AS avg_value,
       count(DISTINCT user_id) AS n_users,
       array_to_string(list_sort(list_distinct(list(user_id % 5))), ',')
         AS user_shards
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_agg_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGroupedStream#aggregate — arbitrary accumulator: mixes counting,
    averaging, distinct cardinality, and a collected set (sorted for
    cross-engine determinism). Container outputs are stringified
    (array_join ↔ array_to_string) because top-level array columns are
    not hashable by the driver's canonicalizer."""
    ev = load_table(spark, sf_dir, "events")
    shards = F.sort_array(F.collect_set(F.col("user_id") % 5))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.array_join(
                F.transform(shards, lambda x: x.cast("string")), ","
            ).alias("user_shards"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_cogroup",
    oracle="""
WITH ev AS (
  SELECT user_id AS key,
         SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS event_value
  FROM events GROUP BY user_id
),
oc AS (
  SELECT o_custkey AS key, count(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT coalesce(ev.key, oc.key) AS key,
       coalesce(ev.event_value, 0.0) AS event_value,
       coalesce(oc.n_orders, 0) AS n_orders
FROM ev FULL OUTER JOIN oc ON ev.key = oc.key
ORDER BY key
""",
)
def q_agg_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGroupedStream#cogroup — two streams aggregated into one keyed store:
    per-source partial aggregate, then full-outer merge on the key."""
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(dsum("value", "event_value"))
    )
    oc = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        ev.join(oc, "key", "full_outer")
        .select(
            "key",
            F.coalesce("event_value", F.lit(0.0)).alias("event_value"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("key")
    )


@query(
    "q_agg_distinct",
    oracle="""
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct — KS emulates with a KeyValueStore+filter; Spark plans it
    as a two-phase aggregate (partial dedup before the shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct().orderBy(
        "user_id", "event_type"
    )


@query(
    "q_agg_count_distinct",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS exact_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .orderBy("event_type")
    )


@query(
    "q_agg_approx_count_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
            <= 0.10 * count(DISTINCT user_id) AS BOOLEAN) AS approx_within_10pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Sketch estimates differ by
    engine, so each engine checks ITS OWN estimate against its own exact
    count and emits the accuracy invariant (``|approx-exact| <= 5%``) as
    a boolean — deterministic, hence oracle-hashable. The tolerance is
    10% for an rsd=0.02 sketch (~5 sigma — 5% was only ~2.5 sigma, close
    enough for a regenerated fixture to flip one group on either engine).
    At 100 TB this is
    the cardinality operator you actually run (fixed memory per group vs
    an unbounded distinct-set)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("approx_within_10pct"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_rollup",
    oracle="""
SELECT r_name, n_name, count(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate: region → nation → grand total in one pass."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    reg = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "q_agg_cube",
    oracle="""
SELECT c_mktsegment, o_orderstatus, count(*) AS n
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL front-end (lifecycle §3.3)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@query(
    "q_agg_collect",
    oracle="""
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
       array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first_keys
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set — KS Aggregator accumulating a container
    value. Collection order after a shuffle is nondeterministic, so
    results are ALWAYS sort_array-wrapped (the only way a collected
    aggregate can pass a cross-engine value hash — or be reproducible at
    all under retries); outputs are then stringified because the driver
    canonicalizer cannot hash top-level array columns."""
    orders = load_table(spark, sf_dir, "orders")
    first5 = F.slice(F.sort_array(F.collect_list("o_orderkey")), 1, 5)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
                "prios"
            ),
            F.array_join(
                F.transform(first5, lambda x: x.cast("string")), ","
            ).alias("first_keys"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_agg_mode",
    oracle="""
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rk
  FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
FROM ranked WHERE rk = 1
ORDER BY o_orderstatus
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties broken
    lexicographically): count + row_number, NOT the engine-native
    ``mode()`` whose tie-break is unspecified and differs between
    engines. Two narrow aggregations — the count shuffle carries one
    row per (group, value), map-side combined."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_agg_corr_cov",
    oracle="""
WITH f AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM f GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             9) AS corr_qty_price,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1),
             4) AS covar_qty_price
FROM s
ORDER BY l_returnflag
""",
)
def q_agg_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bivariate statistics: corr/covar from EXACT int64
    power sums (quantity is integral; price rounded to whole units so
    Σy² stays inside int64 at any group size the fixtures reach), then
    ONE fixed-order double expression — never the engine-native
    ``corr``/``covar_samp``, whose one-pass float accumulation is
    partition-order-dependent and can't hash-match across engines. The
    same trick q_agg_stats_moments uses, extended to cross terms."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") + 0.5).cast("long").alias("y"),
    )
    s = f.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = (n_d * F.col("sxy") - sx_d * F.col("sy")) / (
        F.sqrt(n_d * F.col("sxx") - sx_d * F.col("sx"))
        * F.sqrt(n_d * F.col("syy") - sy_d * F.col("sy"))
    )
    cov = (F.col("sxy").cast("double") - sx_d * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(corr, 9).alias("corr_qty_price"),
        F.round(cov, 4).alias("covar_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_hll_mergeable",
    oracle="""
SELECT event_type, TRUE AS merge_within_tolerance
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability — THE property that makes approximate
    distinct-counting re-aggregable at 100 TB: per-day partial HLL
    sketches unioned per event_type must estimate what one direct
    per-type sketch estimates, WITHIN the sketch's error bound. The
    invariant is deliberately a tolerance, not exact equality: the
    r4 sf0.1 density sweep proved exact register-level equality is NOT
    a DataSketches HLL_4 property (a directly-built sketch and a union
    of partial sketches clip their 4-bit register windows differently,
    and the estimator differs HIP-vs-composite) — at sf0.01 the two
    agreed exactly by low-density luck. The 2% gate sits ~2.5× above
    the observed divergence (≤0.8%) and just over the lgK=12 RSE
    (~1.6%), so it pins real mergeability without depending on fixture
    density. The oracle pins the invariant (TRUE per group present);
    Spark computes both sides for real via hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate. This is the continuous-
    aggregate pattern: store tiny daily sketches, answer any-time-range
    distinct queries by union — never rescan raw data."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.date_trunc("day", "ts").alias("day")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d_est")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m_est")
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("d_est") - F.col("m_est"))
                <= 0.02 * F.col("d_est")
            ).alias("merge_within_tolerance"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_linreg",
    oracle="""
WITH f AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM f GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
             9) AS slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 9) AS intercept
FROM s
ORDER BY l_returnflag
""",
)
def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (price ~ quantity) from the
    same EXACT int64 power sums as q_agg_corr_cov — the closed-form
    regression a 100 TB job computes in ONE map-side-combined pass,
    never an iterative solver. The final slope/intercept are single
    fixed-order double expressions (the intercept re-states the slope
    expression verbatim so both engines evaluate the identical tree)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") + 0.5).cast("long").alias("y"),
    )
    s = f.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    slope = (n_d * F.col("sxy") - sx_d * F.col("sy")) / (
        n_d * F.col("sxx") - sx_d * F.col("sx")
    )
    intercept = (sy_d - slope * sx_d) / n_d
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
    ).orderBy("l_returnflag")


@query(
    "q_agg_bitmap_presence",
    oracle="""
WITH per_type AS (
  SELECT event_type,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
              AS BIGINT) AS bitmap,
         bit_count(bit_or(CAST(1 AS BIGINT)
                          << CAST(user_id % 63 AS INTEGER))) AS n_buckets
  FROM events GROUP BY event_type
),
merged AS (
  SELECT CAST(bit_or(bitmap) AS BIGINT) AS global_bitmap FROM per_type
),
direct AS (
  SELECT CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
              AS BIGINT) AS global_direct
  FROM events
)
SELECT event_type, bitmap, n_buckets,
       CAST((SELECT global_bitmap FROM merged)
            = (SELECT global_direct FROM direct) AS BOOLEAN)
         AS merge_exact
FROM per_type
ORDER BY event_type
""",
)
def q_agg_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact presence bitmap per group — the bounded-domain cousin of the
    HLL sketch: each user hashes to one of 63 bit buckets, `bit_or`
    accumulates a single BIGINT per group, and `bit_count` reads the
    occupied-bucket cardinality. The `merge_exact` column PROVES the
    re-aggregation property on both engines: OR-ing the per-group
    bitmaps equals the bitmap computed directly over the union — the
    invariant that lets 100 TB of per-partition bitmaps roll up to any
    coarser grouping without touching raw data again (same argument as
    q_agg_hll_mergeable, but exact). Shuffle payload: 8 bytes/group."""
    ev = load_table(spark, sf_dir, "events")
    # F.shiftleft takes a literal shift count; the per-row shift needs expr
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
    per_type = ev.groupBy("event_type").agg(
        F.bit_or(bit).alias("bitmap"),
        F.bit_count(F.bit_or(bit)).alias("n_buckets"),
    )
    merged = per_type.agg(F.bit_or("bitmap").alias("global_bitmap"))
    direct = ev.agg(F.bit_or(bit).alias("global_direct"))
    flag = merged.crossJoin(direct).select(
        (F.col("global_bitmap") == F.col("global_direct")).alias("merge_exact")
    )
    return per_type.crossJoin(F.broadcast(flag)).orderBy("event_type")


@query(
    "q_agg_argmax",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000
                 + o_orderkey) AS biggest_order,
       max(o_totalprice) AS top_price,
       arg_min(o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000
                 + o_orderkey) AS smallest_order,
       min(o_totalprice) AS bottom_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (`max_by`/`min_by` ↔ `arg_max`/`arg_min`)
    — the which-row-had-the-extreme companion to min/max, replacing the
    window-rank-then-filter idiom with a single map-side-combinable
    aggregate (one value per task per group instead of a full window
    sort). Tie-breaking is UNSPECIFIED in both engines, so the ordering
    key is a composite BIGINT — fixed-point cents ×1e7 + orderkey — that
    cannot tie, making the result deterministic cross-engine (same trick
    as q_agg_mode's deterministic mode)."""
    o = load_table(spark, sf_dir, "orders")
    ord_key = (
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        * 10000000
        + F.col("o_orderkey")
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", ord_key).alias("biggest_order"),
            F.max("o_totalprice").alias("top_price"),
            F.min_by("o_orderkey", ord_key).alias("smallest_order"),
            F.min("o_totalprice").alias("bottom_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(l_quantity AS BIGINT) AS qty,
         l_orderkey, l_linenumber
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, price_c, qty,
         CAST(SUM(qty) OVER (PARTITION BY l_returnflag
                             ORDER BY price_c, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         CAST(SUM(qty) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM w
)
SELECT l_returnflag,
       min(price_c) AS median_price_c,
       min(tw) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median — the smallest price whose cumulative quantity
    weight reaches half the group's total (here: the
    quantity-weighted median line price per return flag). Plain
    percentiles treat each row once; weighted quantiles are what
    inventory/price analytics actually need, and neither engine has a
    native weighted_median — both build it from the same cumulative
    window, which pins the semantics. Prices are fixed-point cents and
    the cut uses 2·cw ≥ tw in integers, so no float boundary exists;
    ties broken by (orderkey, linenumber) identically. One shuffle on
    the group key; the per-group sort is the unavoidable cost (at
    100 TB: pre-bin prices and pick the bin by the same rule — the
    histogram-selection module's approach)."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    w = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "price_c",
        F.sum("qty").over(win).alias("cw"),
        F.sum("qty").over(tot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_c").alias("median_price_c"),
            F.min("tw").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_gini_impurity",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
),
agg AS (
  SELECT user_id,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
         count(*) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id, n, n_types, sum_sq,
       1.0 - CAST(sum_sq AS DOUBLE) / (n * n) AS gini_impurity
FROM agg
ORDER BY user_id
""",
)
def q_agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity via Gini impurity (1 − Σ(cᵢ/N)²) per user —
    the entropy-style concentration measure that stays EXACT: counts
    are integers, Σcᵢ² is an integer, and the single division of exact
    integers is bit-identical cross-engine, where Shannon entropy's
    per-class log₂ drifts with libm. Two-level aggregate: per-(user,
    type) partials first so the user-level pass sums |types| rows per
    user, never raw events. The same Σc² power sum is what a segment-
    level rollup re-merges — concentration is sketch-mergeable just
    like the variance power sums (q_agg_stats_moments)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    agg = c.groupBy("user_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
        F.count("*").alias("n_types"),
    )
    return agg.select(
        "user_id",
        "n",
        "n_types",
        "sum_sq",
        (
            1.0 - F.col("sum_sq").cast("double") / (F.col("n") * F.col("n"))
        ).alias("gini_impurity"),
    ).orderBy("user_id")


@query(
    "q_agg_minmax_scale",
    oracle="""
WITH b AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN b.mx > b.mn
            THEN (e.value - b.mn) / (b.mx - b.mn) END AS scaled
FROM events e JOIN b ON e.event_type = b.event_type
ORDER BY e.event_id
""",
)
def q_agg_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling per group — the [0,1] normalization step
    of ML preprocessing, degenerate groups (mx == mn) mapping to NULL
    instead of a division blow-up. min/max are order-free exact
    aggregates and the rescale applies the identical two-operation
    float expression to identical inputs, so every scaled value is
    bit-stable cross-engine. The bounds table is |groups| rows and
    broadcasts back — the fact stream never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    return (
        ev.join(F.broadcast(b), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(
                F.col("mx") > F.col("mn"),
                (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")),
            ).alias("scaled"),
        )
        .orderBy("event_id")
    )


@query(
    "q_agg_ktable_regroup",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type, value
  FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rk
    FROM events
  ) WHERE rk = 1
)
SELECT event_type,
       count(*) AS n_keys,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_fp
FROM latest
GROUP BY event_type
ORDER BY event_type
""",
)
def q_agg_ktable_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS ``KGroupedTable.aggregate(adder, subtractor)`` — re-grouping a
    changelog table by a NON-key attribute. In Kafka Streams every
    upstream update emits TWO records downstream: the subtractor
    retracts the key's old value from its old group, the adder applies
    the new value to its new group.

    The Spark side computes the final per-group aggregate THE CHANGELOG
    WAY: each update contributes (+new value to its group) and, via
    ``lag`` over the per-key update order, (−previous value to the
    previous group); summing all signed contributions telescopes to the
    latest-snapshot aggregate. The ORACLE derives the same answer
    independently from the final snapshot (latest row per key, then
    group), so the hash-match proves the adder/subtractor algebra — the
    KS semantic — not just the arithmetic. Counts work identically
    (+1/−1 membership deltas).

    Scale shape: one shuffle on the key (user_id) for the lag window,
    one on the group for the sum — exactly the two exchanges the KS
    repartition topics represent. Fixed-point values make the signed
    sums order-free."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    fp = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.select(
        "user_id",
        F.col("event_type").alias("grp"),
        fp.alias("v_fp"),
        F.lag("event_type").over(w).alias("prev_grp"),
        F.lag(fp).over(w).alias("prev_fp"),
    )
    adds = chg.select(
        "grp", F.col("v_fp").alias("d_fp"), F.lit(1).alias("d_n")
    )
    subs = chg.filter(F.col("prev_grp").isNotNull()).select(
        F.col("prev_grp").alias("grp"),
        (-F.col("prev_fp")).alias("d_fp"),
        F.lit(-1).alias("d_n"),
    )
    return (
        adds.unionByName(subs)
        .groupBy(F.col("grp").alias("event_type"))
        .agg(
            F.sum("d_n").alias("n_keys"),
            F.sum("d_fp").alias("total_fp"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_mad_robust",
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
),
med AS (
  SELECT event_type, CAST(n AS BIGINT) AS n, v AS med_fp
  FROM r WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT f.event_type, abs(f.v - m.med_fp) AS adev, m.med_fp, m.n
  FROM f JOIN med m ON f.event_type = m.event_type
),
dr AS (
  SELECT event_type, adev, med_fp, n,
         row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn
  FROM dev
)
SELECT event_type, n, med_fp, adev AS mad_fp,
       med_fp / 10000.0 AS med,
       adev / 10000.0 AS mad
FROM dr WHERE rn = (n + 1) // 2
ORDER BY event_type
""",
)
def q_agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust
    scale estimator outlier screens should use instead of stddev
    (one corrupted sensor saturates a variance; it barely moves a
    MAD). Two grouped EXACT lower medians: the per-group median joins
    back (broadcast — |groups| rows) and the deviations' median
    follows.

    Cross-engine determinism (hardened r5 per ADVICE): values live on
    a fixed-point 1e4 BIGINT scale and each median is the LOWER median
    — the element at rank ⌈n/2⌉ of the sorted multiset — selected by
    row_number, so NO interpolation expression exists to differ
    between engines (the r4 form leaned on Spark percentile(0.5) and
    DuckDB median producing bit-identical (a+b)/2 interpolations —
    empirically green, fragile across engine versions). The exported
    med/mad doubles are single exact int/1e4 divisions. Both median
    passes shuffle on the same event_type key. The per-group
    row_number sorts are the same work the exact-percentile buffering
    did; at 100 TB swap each selection for the iterative histogram
    selection (operators/selection.py, grouped_kth_smallest) — same
    query shape (the grouped-median posture)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("v")
    wn = Window.partitionBy("event_type")
    med = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("n").cast("long").alias("n"),
                F.col("v").alias("med_fp"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "med_fp",
        F.abs(F.col("v") - F.col("med_fp")).alias("adev"),
    )
    dw = Window.partitionBy("event_type").orderBy("adev")
    return (
        dev.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(
            "event_type", "n", "med_fp",
            F.col("adev").alias("mad_fp"),
            (F.col("med_fp") / 10000.0).alias("med"),
            (F.col("adev") / 10000.0).alias("mad"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_welch_ttest",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sxx
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type
),
w AS (
  SELECT
    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
    MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS s1,
    MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS q1,
    MAX(CASE WHEN event_type = 'click' THEN n END) AS n2,
    MAX(CASE WHEN event_type = 'click' THEN sx END) AS s2,
    MAX(CASE WHEN event_type = 'click' THEN sxx END) AS q2
  FROM s
)
SELECT n1, n2, s1, s2,
  round(
    ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0)
    / sqrt(
        ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
          / (n1 - 1) / 10000.0) / n1
        + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
            / (n2 - 1) / 10000.0) / n2
      ), 9) AS t_stat,
  round(
    POW(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
          / (n1 - 1) / 10000.0) / n1
        + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
            / (n2 - 1) / 10000.0) / n2, 2)
    / (POW(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
             / (n1 - 1) / 10000.0) / n1, 2) / (n1 - 1)
       + POW(((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
               / (n2 - 1) / 10000.0) / n2, 2) / (n2 - 1)), 9) AS welch_df
FROM w
""",
)
def q_agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (the A/B-testing primitive): does the
    purchase value distribution differ from clicks? Everything reduces
    to SIX integers — per-group count and the first two fixed-point
    power sums (cents scale, so the squared sum stays in int64 to
    ~sf1000) — and the t statistic and Welch–Satterthwaite df are then
    one fixed arithmetic expression over those integers, written with
    identical parenthesization in both engines (IEEE ops on equal
    inputs; round(9) absorbs nothing but guards future dialect drift,
    the q_agg_corr_cov convention). Map-side-combined single pass —
    the experiment-analysis query at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    x_c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x_c).alias("sx"),
        F.sum(x_c * x_c).alias("sxx"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = s.agg(
        pick("purchase", "n").alias("n1"),
        pick("purchase", "sx").alias("s1"),
        pick("purchase", "sxx").alias("q1"),
        pick("click", "n").alias("n2"),
        pick("click", "sx").alias("s2"),
        pick("click", "sxx").alias("q2"),
    )
    vn1 = (
        (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1) / 10000.0
    ) / F.col("n1")
    vn2 = (
        (F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1) / 10000.0
    ) / F.col("n2")
    t_stat = (
        (F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast("double") / F.col("n2"))
        / 100.0
    ) / F.sqrt(vn1 + vn2)
    df = F.pow(vn1 + vn2, 2) / (
        F.pow(vn1, 2) / (F.col("n1") - 1) + F.pow(vn2, 2) / (F.col("n2") - 1)
    )
    return w.select(
        "n1",
        "n2",
        "s1",
        "s2",
        F.round(t_stat, 9).alias("t_stat"),
        F.round(df, 9).alias("welch_df"),
    )


@query(
    "q_agg_ks_test",
    oracle="""
WITH pts AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events WHERE event_type IN ('purchase', 'click')
),
g AS (
  SELECT v, CAST(SUM(p) AS BIGINT) AS c1, CAST(SUM(1 - p) AS BIGINT) AS c2
  FROM pts GROUP BY v
),
cum AS (
  SELECT v,
         CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
  FROM g
),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM g
),
sc AS (SELECT v, ABS(cum1 * n2 - cum2 * n1) AS d_num FROM cum, tot)
SELECT tot.n1, tot.n2, sc.d_num, tot.n1 * tot.n2 AS d_den,
       CAST(sc.d_num AS DOUBLE) / (tot.n1 * tot.n2) AS ks_stat,
       sc.v AS at_value_fx
FROM sc, tot
ORDER BY sc.d_num DESC, sc.v
LIMIT 1
""",
)
def q_agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — are purchase values
    drawn from the same distribution as click values? D = max over the
    merged support of |F₁(v) − F₂(v)|, the standard drift/AB
    distribution test. Exact end-to-end: values fix-point to integers,
    both ECDFs stay as integer counts, and the sup runs over
    |cum1·n2 − cum2·n1| — the cross-multiplied form that never forms a
    float until the single final division of exact BIGINTs. The argmax
    is total-ordered (D DESC, value ASC).

    Scale shape: the global-order ECDF is the classic single-task
    window trap; here it runs as the same TWO-PHASE prefix sum as
    q_eval_auc — per-distinct-value counts, in-bucket cumulative
    windows partitioned on ⌊v/256⌋, and one ordered pass over the
    DOMAIN-bounded bucket-total table broadcast back as offsets. The
    top-1 is a TakeOrdered, not a sort. The oracle uses DuckDB's plain
    global window; identical integers prove the decomposition."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pts = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    g = pts.groupBy("v").agg(
        F.sum("p").alias("c1"), F.sum(1 - F.col("p")).alias("c2")
    )
    g = scoped_persist(g.withColumn("b", F.expr("v DIV 256")))
    w_in = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = g.select(
        "v",
        "b",
        F.sum("c1").over(w_in).alias("in1"),
        F.sum("c2").over(w_in).alias("in2"),
    )
    btot = g.groupBy("b").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "b",
        F.coalesce(F.sum("b1").over(w_b), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("b2").over(w_b), F.lit(0)).alias("off2"),
    )
    tot = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    sc = (
        within.join(F.broadcast(off), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            "v",
            F.abs(
                (F.col("off1") + F.col("in1")) * F.col("n2")
                - (F.col("off2") + F.col("in2")) * F.col("n1")
            ).alias("d_num"),
        )
    )
    return (
        sc.orderBy(F.desc("d_num"), F.asc("v"))
        .limit(1)
        .select(
            "n1",
            "n2",
            "d_num",
            (F.col("n1") * F.col("n2")).alias("d_den"),
            (
                F.col("d_num").cast("double") / (F.col("n1") * F.col("n2"))
            ).alias("ks_stat"),
            F.col("v").alias("at_value_fx"),
        )
    )


@query(
    "q_agg_count_min_sketch",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
v AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE t <> '' GROUP BY t
),
rows_ AS (SELECT unnest(range(4)) AS r),
hashed AS (
  SELECT r, t, c,
         CAST((instr('0123456789abcdef',
                     substr(md5(CAST(r AS VARCHAR) || ':' || t), 1, 1)) - 1)
              * 16
              + instr('0123456789abcdef',
                      substr(md5(CAST(r AS VARCHAR) || ':' || t), 2, 1)) - 1
              AS BIGINT) AS bucket
  FROM v, rows_
),
cms AS (
  SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS counter
  FROM hashed GROUP BY r, bucket
),
probes AS (
  SELECT t, c FROM v ORDER BY c DESC, t LIMIT 10
),
est AS (
  SELECT p.t, p.c AS exact_n, CAST(min(cms.counter) AS BIGINT) AS cms_est
  FROM probes p
  JOIN hashed h ON h.t = p.t
  JOIN cms ON cms.r = h.r AND cms.bucket = h.bucket
  GROUP BY p.t, p.c
)
SELECT t AS term, exact_n, cms_est, cms_est - exact_n AS overcount
FROM est
ORDER BY exact_n DESC, term
""",
)
def q_agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (depth 4 × width 256) over the corpus term
    stream, probed at the 10 true heavy hitters — the mergeable
    frequency sketch that completes the family (HLL for cardinality,
    MinHash for similarity, Bloom for membership, CMS for counts):
    counters are pure sums, so per-partition sketches OR together by
    addition and re-aggregate to any coarser grouping without
    re-touching raw data. The estimate min-over-rows can only
    OVERcount (`overcount` ≥ 0 — the CMS guarantee, visible in the
    output), never under.

    The hash family is the portable md5-nibble construction the
    simhash twin uses (two hex nibbles → bucket 0..255), so DuckDB
    rebuilds the ENTIRE sketch digest-for-digest and the value hash
    covers build + probe, not just the estimates.

    Scale shape: the token count is the only corpus-sized shuffle;
    the sketch build runs over the VOCABULARY table (4 rows × 256
    buckets of BIGINT = 8 KB total state), and probing joins the
    heavy-hitter list against the 1,024-row counter table — both
    broadcast-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    v = scoped_persist(v)
    rows = spark.range(4).select(F.col("id").alias("r"))
    hx = "0123456789abcdef"
    bucket = F.expr(
        "(locate(substr(md5(CAST(r AS STRING) || ':' || t), 1, 1),"
        f" '{hx}') - 1) * 16"
        " + locate(substr(md5(CAST(r AS STRING) || ':' || t), 2, 1),"
        f" '{hx}') - 1"
    ).cast("long")
    hashed = v.crossJoin(F.broadcast(rows)).select(
        "r", "t", "c", bucket.alias("bucket")
    )
    hashed = scoped_persist(hashed)
    cms = hashed.groupBy("r", "bucket").agg(
        F.sum("c").cast("long").alias("counter")
    )
    probes = v.orderBy(F.desc("c"), F.asc("t")).limit(10)
    est = (
        probes.withColumnRenamed("c", "exact_n")
        .join(hashed.select("r", "t", "bucket"), "t")
        .join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("t", "exact_n")
        .agg(F.min("counter").cast("long").alias("cms_est"))
    )
    return est.select(
        F.col("t").alias("term"),
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), F.asc("term"))


@query(
    "q_agg_herfindahl",
    oracle="""
WITH rev AS (
  SELECT s_nationkey AS nation, l_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)) AS BIGINT))
              // 1000 AS BIGINT) AS v
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY 1, 2
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(v) AS BIGINT) AS total_kusd,
       CAST(1000000 * SUM(v * v) // (SUM(v) * SUM(v)) AS BIGINT) AS hhi_ppm
FROM rev
GROUP BY nation
HAVING SUM(v) > 0
ORDER BY nation
""",
)
def q_agg_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: HHI = Σ shareᵢ² over each supplier's revenue share —
    the antitrust/concentration metric (10000 ppm ≈ perfectly even
    across 100 suppliers; 1e6 ppm = monopoly). Exactness: revenue
    floors to whole thousands per supplier FIRST (the declared unit of
    the metric), then HHI is one integer expression
    1e6·Σv² ÷ (Σv)² with a single floor — no float shares ever exist,
    and the kUSD unit keeps (Σv)² far inside BIGINT at 100 TB group
    sizes.

    Scale shape: one supplier-keyed rollup of the fact table
    (map-side combinable, broadcast supplier dim), then a
    nation-keyed aggregate over the SUPPLIER-bounded table."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount))"
                " AS BIGINT)) DIV 1000 AS BIGINT)"
            ).alias("v")
        )
    )
    return (
        rev.groupBy("nation")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("v").cast("long").alias("total_kusd"),
            F.expr(
                "CAST(1000000 * SUM(v * v) DIV (SUM(v) * SUM(v)) AS BIGINT)"
            ).alias("hhi_ppm"),
        )
        .filter(F.col("total_kusd") > 0)
        .orderBy("nation")
    )


@query(
    "q_agg_kruskal_wallis",
    oracle="""
WITH pts AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v, event_type
  FROM events
),
g AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM pts GROUP BY v
),
ordered AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM g
),
pg AS (
  SELECT v, event_type, CAST(count(*) AS BIGINT) AS cg
  FROM pts GROUP BY v, event_type
),
rsum AS (
  SELECT pg.event_type,
         CAST(SUM(pg.cg) AS BIGINT) AS n_g,
         CAST(SUM(pg.cg * (2 * o.c + o.cnt + 1)) AS BIGINT) AS rank2_sum
  FROM pg JOIN ordered o ON o.v = pg.v
  GROUP BY pg.event_type
),
tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM rsum),
terms AS (
  SELECT event_type, n_g, rank2_sum,
         SUM(CAST(rank2_sum AS DOUBLE) * CAST(rank2_sum AS DOUBLE)
             / (4.0 * CAST(n_g AS DOUBLE)))
           OVER (ORDER BY event_type
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum
  FROM rsum
),
h AS (
  SELECT 12.0 * max(s_cum) / (tot.n * (tot.n + 1.0)) - 3.0 * (tot.n + 1.0)
           AS h_stat
  FROM terms, tot GROUP BY tot.n
)
SELECT t.event_type, t.n_g, t.rank2_sum, tot.n AS n_total, h.h_stat
FROM terms t, tot, h
ORDER BY t.event_type
""",
)
def q_agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test across ALL five event types on `value`
    (the k-group generalization of the Mann-Whitney/AUC rank-sum):
    per-group doubled rank sums with average-rank ties stay exact
    BIGINTs end-to-end; the H statistic's Σ R²/n cannot stay integer
    (R² overflows at corpus scale), so it folds in a PINNED order —
    a cumulative window over event_type — making the float sum
    reproducible cross-engine (unordered 5-term float addition is the
    hazard this avoids; both engines fold the identical sequence of
    correctly-rounded doubles). Uncorrected-for-ties H, documented.

    Scale shape: identical to q_eval_auc's two-phase decomposition on
    the Spark side — per-distinct-value counts, bucketed in-window
    cumulatives, domain-bounded bucket offsets broadcast back; the
    per-group fold then runs on a 5-row table. The oracle uses the
    plain global window."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        "event_type",
    )
    g = pts.groupBy("v").agg(F.count("*").alias("cnt"))
    g = scoped_persist(g.withColumn("b", F.expr("v DIV 256")))
    w_in = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = g.select(
        "v", "b", "cnt", F.coalesce(F.sum("cnt").over(w_in), F.lit(0)).alias("c_in")
    )
    btot = g.groupBy("b").agg(F.sum("cnt").alias("bc"))
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "b", F.coalesce(F.sum("bc").over(w_b), F.lit(0)).alias("c_off")
    )
    ordered = within.join(F.broadcast(off), "b").select(
        "v", "cnt", (F.col("c_off") + F.col("c_in")).alias("c")
    )
    pg = pts.groupBy("v", "event_type").agg(F.count("*").alias("cg"))
    rank2 = 2 * F.col("c") + F.col("cnt") + 1
    rsum = (
        pg.join(ordered, "v")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(F.col("cg") * rank2).cast("long").alias("rank2_sum"),
        )
    )
    tot = rsum.agg(F.sum("n_g").alias("n"))
    w_t = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )
    term = (
        F.col("rank2_sum").cast("double")
        * F.col("rank2_sum").cast("double")
        / (4.0 * F.col("n_g").cast("double"))
    )
    terms = rsum.select(
        "event_type", "n_g", "rank2_sum", F.sum(term).over(w_t).alias("s_cum")
    )
    h = (
        terms.agg(F.max("s_cum").alias("s"))
        .crossJoin(F.broadcast(tot))
        .select(
            (
                12.0 * F.col("s") / (F.col("n") * (F.col("n") + 1.0))
                - 3.0 * (F.col("n") + 1.0)
            ).alias("h_stat")
        )
    )
    return (
        terms.crossJoin(F.broadcast(tot.select(F.col("n").alias("n_total"))))
        .crossJoin(F.broadcast(h))
        .select("event_type", "n_g", "rank2_sum", "n_total", "h_stat")
        .orderBy("event_type")
    )


@query(
    "q_agg_gini_concentration",
    oracle="""
WITH spend AS (
  SELECT c_nationkey AS nation, c_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS s
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY 1, 2
),
rk AS (
  SELECT nation, s,
         row_number() OVER (PARTITION BY nation ORDER BY s, c_custkey)
           AS i
  FROM spend
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(s) AS BIGINT) AS total_cents,
       CAST(2 * SUM(i * s) - (count(*) + 1) * SUM(s) AS BIGINT)
         AS gini_num,
       CAST(count(*) * SUM(s) AS BIGINT) AS gini_den,
       CAST(2 * SUM(i * s) - (count(*) + 1) * SUM(s) AS DOUBLE)
         / (count(*) * SUM(s)) AS gini
FROM rk
GROUP BY nation
ORDER BY nation
""",
)
def q_agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the inequality
    complement of the Herfindahl index (HHI asks 'how concentrated are
    the sellers', Gini asks 'how unequal are the buyers'): from the
    rank form G = (2Σᵢ i·sᵢ − (n+1)Σs) / (n·Σs) over per-customer
    spend sorted ascending. Exact: spend is integer cents, ranks come
    from a total order (spend, custkey), and the whole expression
    stays BIGINT until one final division of exact values.

    Scale shape: the fact rollup shuffles on the customer key
    (map-side combinable); the rank window partitions BY NATION over
    the customer-bounded spend table — no global order anywhere — and
    the closing aggregate rides the same nation partitioning."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("s")
        )
    )
    w = Window.partitionBy("nation").orderBy("s", "c_custkey")
    rk = spend.select("nation", "s", F.row_number().over(w).alias("i"))
    num = 2 * F.sum(F.col("i") * F.col("s")) - (F.count("*") + 1) * F.sum("s")
    den = F.count("*") * F.sum("s")
    return (
        rk.groupBy("nation")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("s").cast("long").alias("total_cents"),
            num.cast("long").alias("gini_num"),
            den.cast("long").alias("gini_den"),
            (num.cast("double") / den).alias("gini"),
        )
        .orderBy("nation")
    )


@query(
    "q_agg_spearman",
    oracle="""
WITH pts AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
  FROM lineitem
),
rq AS (
  SELECT q, CAST(count(*) AS BIGINT) AS cnt,
         COALESCE(SUM(count(*)) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM pts GROUP BY q
),
rp AS (
  SELECT p, CAST(count(*) AS BIGINT) AS cnt,
         COALESCE(SUM(count(*)) OVER (ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM pts GROUP BY p
),
ranked AS (
  SELECT (2 * rq.c + rq.cnt + 1) AS x, (2 * rp.c + rp.cnt + 1) AS y
  FROM pts JOIN rq ON rq.q = pts.q JOIN rp ON rp.p = pts.p
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ranked
)
SELECT n, sx, sy, sxy, sxx, syy,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS spearman_rho
FROM m
""",
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price — Pearson
    on tie-averaged ranks, the monotone-dependence measure robust to
    any nonlinearity the raw correlation (q_agg_corr_cov) misses.
    Doubled average ranks (2·rows_before + cnt + 1, the AUC trick)
    keep every rank and power sum an exact BIGINT — all six moments
    are emitted for the hash to pin — and ρ itself evaluates in an
    expression both engines compute operation-for-operation (long→
    double conversions, correctly-rounded products, one sqrt, one
    division: deterministic given identical exact inputs; the n·Σxy
    magnitude exceeds BIGINT, which is WHY it evaluates in double).

    Scale shape: per-distinct-value rank tables come from value-keyed
    aggregates + domain-bounded prefix passes (the q_eval_auc
    decomposition — here the oracle's plain windows stand in on the
    Spark side too because both rank domains are small: 50 quantities,
    price domain bounded); the rank joins broadcast the distinct-value
    tables; the moment rollup is one aggregate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("p"),
    )
    pts = scoped_persist(pts)

    def rank_table(col):
        g = pts.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return g.select(
            col,
            (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1)
            .alias(f"r_{col}"),
        )

    ranked = (
        pts.join(F.broadcast(rank_table("q")), "q")
        .join(F.broadcast(rank_table("p")), "p")
        .select(F.col("r_q").alias("x"), F.col("r_p").alias("y"))
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    dx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    dy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        "n",
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sxx").cast("long").alias("sxx"),
        F.col("syy").cast("long").alias("syy"),
        (num / F.sqrt(dx * dy)).alias("spearman_rho"),
    )


@query(
    "q_agg_ols_regression",
    oracle="""
WITH pts AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY flag
)
SELECT flag, n, sx, sy, sxy, sxx, syy,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
       (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
            * sx) / n AS intercept,
       ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
         / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r2
FROM m ORDER BY flag
""",
)
def q_agg_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of price on quantity —
    slope, intercept and R² per return flag, the one-pass streaming
    regression every metric pipeline runs (unit-price drift per
    segment). Everything reduces to the five cross-moments, all exact
    BIGINTs (quantity is an integer, price exact cents); the closing
    slope/intercept/R² evaluate in operation-for-operation identical
    double expressions over those exact inputs (n·Σxy exceeds BIGINT
    range at scale — same argument as q_agg_spearman — which is WHY
    the division lives in double).

    Scale shape: ONE map-side-combinable aggregate over the fact scan
    (the moments are commutative sums), 3-row output — the textbook
    'regression as an aggregate' shape that needs no second pass and
    no driver math."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    m = pts.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    dx = nd * F.col("sxx") - sxd * F.col("sx")
    dy = nd * F.col("syy") - syd * F.col("sy")
    slope = num / dx
    return m.select(
        "flag",
        "n",
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sxx").cast("long").alias("sxx"),
        F.col("syy").cast("long").alias("syy"),
        slope.alias("slope"),
        ((syd - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        ((num * num) / (dx * dy)).alias("r2"),
    ).orderBy("flag")


@query(
    "q_agg_mann_whitney",
    oracle="""
WITH pts AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
rv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         COALESCE(SUM(count(*)) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM pts GROUP BY v
),
ranked AS (
  SELECT pts.grp, (2 * rv.c + rv.cnt + 1) AS r2x
  FROM pts JOIN rv ON rv.v = pts.v
),
m AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN grp = 1 THEN r2x ELSE 0 END) AS BIGINT) AS r1_x2
  FROM ranked
),
ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum FROM rv
)
SELECT n1, n2, r1_x2 - n1 * (n1 + 1) AS u1_x2,
       2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
       tie_sum,
       (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
         / (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
              * ((n1 + n2 + 1)
                 - CAST(tie_sum AS DOUBLE)
                   / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))) AS z
FROM m, ties
""",
)
def q_agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: do URGENT and LOW priority orders
    draw from the same spend distribution? The nonparametric two-sample
    location test (the two-group special case the Kruskal–Wallis query
    generalizes), with tie-corrected normal approximation. Values are
    floored to integer dollars deliberately — that CREATES rank ties so
    the tie-handling path (averaged ranks + Σ(t³−t) variance
    correction) is exercised, not skipped. Doubled ranks
    (2·rows_before + cnt + 1) keep U exact: 2·U₁ = 2·R₁ − 2·n₁(n₁+1)/2
    stays BIGINT throughout; the z-score evaluates in one
    operation-for-operation double expression over exact longs. Tie
    counts t are per-dollar frequencies (≤ thousands), so t³ sums are
    far inside BIGINT range — the docstring bound that keeps tie_sum
    exact where a per-cent domain could not be guaranteed to.

    Scale shape: the per-distinct-value rank table is a value-keyed
    aggregate + one prefix pass over the BOUNDED dollar domain
    (broadcast back to the fact rows — the q_eval_auc decomposition);
    the closing moments are one map-side-combinable aggregate, 1-row
    output."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    pts = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("grp"),
        F.floor(F.col("o_totalprice")).cast("long").alias("v"),
    )
    g = pts.groupBy("v").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rv = g.select(
        "v",
        "cnt",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1)
        .alias("r2x"),
    )
    ranked = pts.join(F.broadcast(rv.select("v", "r2x")), "v")
    m = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("r2x")).otherwise(0))
        .cast("long")
        .alias("r1_x2"),
    )
    ties = rv.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_sum")
    )
    j = m.crossJoin(F.broadcast(ties))
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    n1d = F.col("n1").cast("double")
    nt = F.col("n1") + F.col("n2")
    var = (n1d * F.col("n2") / 12.0) * (
        (nt + 1)
        - F.col("tie_sum").cast("double")
        / (nt.cast("double") * (nt - 1))
    )
    return j.select(
        "n1",
        "n2",
        u1_x2.cast("long").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1_x2).cast("long").alias("u2_x2"),
        "tie_sum",
        (
            (u1_x2.cast("double") - (F.col("n1") * F.col("n2")).cast("double"))
            / (2.0 * F.sqrt(var))
        ).alias("z"),
    )


@query(
    "q_agg_theil_sen",
    oracle="""
WITH daily AS (
  SELECT (EXTRACT(year FROM o_orderdate) * 12
          + EXTRACT(month FROM o_orderdate)) AS mo,
         CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
pairs AS (
  SELECT a.mo,
         (a.y - b.y) * 1000000 AS dy6,
         (a.x - b.x) AS dx
  FROM daily a JOIN daily b ON a.mo = b.mo AND b.x < a.x
),
slopes AS (
  SELECT mo,
         ((dy6 - ((dy6 % dx) + dx) % dx) // dx) AS slope_fx
  FROM pairs
),
ranked AS (
  SELECT mo, slope_fx,
         row_number() OVER (PARTITION BY mo ORDER BY slope_fx) AS rn,
         CAST(count(*) OVER (PARTITION BY mo) AS BIGINT) AS n_pairs
  FROM slopes
)
SELECT mo, n_pairs, slope_fx AS sen_slope_fx,
       CAST(slope_fx AS DOUBLE) / 1000000.0 AS sen_slope
FROM ranked WHERE rn = (n_pairs + 1) // 2
ORDER BY mo
""",
)
def q_agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per month: the (lower) median of all
    pairwise day-to-day slopes of daily revenue — the estimator with a
    29% breakdown point that one promo-day outlier cannot bend the way
    it bends q_agg_ols_regression's least-squares line. Slopes go
    fixed-point BEFORE ranking: slope_fx = ⌊10⁶·Δy/Δx⌋ via the
    sign-safe integer floor division (a − pmod(a,b))/b — Spark's DIV
    truncates and DuckDB's // floors, which disagree on negative
    slopes, so the pmod subtraction makes the numerator exactly
    divisible first; the median is then a rank over exact BIGINTs.

    Scale shape: the pairwise join is per-GROUP quadratic, explicitly
    bounded by the docstring contract ≤31 points/group → ≤465 pairs
    (the q_dedup_containment argument: quadratic in the bounded
    calendar, never in the data); one shuffle keys the self-join on
    the month, the rank window rides the same partitioning."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("x"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.mo") == F.col("b.mo")) & (F.col("b.x") < F.col("a.x")),
    ).select(
        F.col("a.mo").alias("mo"),
        ((F.col("a.y") - F.col("b.y")) * 1000000).alias("dy6"),
        (F.col("a.x") - F.col("b.x")).alias("dx"),
    )
    slopes = pairs.select(
        "mo",
        F.expr("(dy6 - ((dy6 % dx) + dx) % dx) DIV dx").alias("slope_fx"),
    )
    w = Window.partitionBy("mo").orderBy("slope_fx")
    wc = Window.partitionBy("mo")
    ranked = slopes.select(
        "mo",
        "slope_fx",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).cast("long").alias("n_pairs"),
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select(
            "mo",
            "n_pairs",
            F.col("slope_fx").alias("sen_slope_fx"),
            (F.col("slope_fx").cast("double") / 1000000.0).alias(
                "sen_slope"
            ),
        )
        .orderBy("mo")
    )


@query(
    "q_agg_bitmap_weekdays",
    oracle="""
WITH ud AS (
  SELECT user_id,
         CAST(bit_or(
           (CAST(1 AS BIGINT) << CAST(
             (CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000)
             % 7 AS INTEGER))
         ) AS BIGINT) AS dow_mask
  FROM events GROUP BY user_id
)
SELECT dow_mask, CAST(bit_count(dow_mask) AS BIGINT) AS n_active_dows,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS user_checksum
FROM ud GROUP BY dow_mask
ORDER BY dow_mask
""",
)
def q_agg_bitmap_weekdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap (bitset) aggregation: each user's active weekdays fold
    into ONE 7-bit integer via bit_or(1 << dow) — the exact-set sketch
    that answers membership/overlap questions with bitwise ops instead
    of joins (the same trick roaring-bitmap columns play at warehouse
    scale), then a popcount histogram over the masks. Day-of-week is
    epoch-day mod 7, no engine weekday() convention. Everything is
    integer bit arithmetic — identical on both engines.

    Scale shape: bit_or is a tiny commutative-monoid accumulator (one
    long per key) — map-side combinable like any sum; two narrow
    shuffles (user rollup, mask histogram). At 100 TB the same mask
    column supports audience-overlap queries as bitwise AND + popcount
    with NO join at all — that is why warehouses store it."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(bit_or(shiftleft(CAST(1 AS BIGINT), "
            "CAST((unix_micros(ts) DIV 86400000000) % 7 AS INT))) AS BIGINT)"
        ).alias("dow_mask")
    )
    return (
        ud.groupBy("dow_mask")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("user_id").cast("long").alias("user_checksum"),
        )
        .select(
            "dow_mask",
            F.expr("CAST(bit_count(dow_mask) AS BIGINT)").alias(
                "n_active_dows"
            ),
            "n_users",
            "user_checksum",
        )
        .orderBy("dow_mask")
    )


@query(
    "q_agg_mutual_information",
    oracle="""
WITH pts AS (
  SELECT event_type AS xv,
         (CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000)
           % 7 AS yv
  FROM events
),
cxy AS (
  SELECT xv, yv, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY xv, yv
),
cx AS (SELECT xv, CAST(SUM(c) AS BIGINT) AS cx FROM cxy GROUP BY xv),
cy AS (SELECT yv, CAST(SUM(c) AS BIGINT) AS cy FROM cxy GROUP BY yv),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cxy),
terms AS (
  SELECT cxy.c,
         CAST(FLOOR(ln(CAST(cxy.c * n.n AS DOUBLE)) * 1000000) AS BIGINT)
           - CAST(FLOOR(ln(CAST(cx.cx * cy.cy AS DOUBLE)) * 1000000)
                  AS BIGINT) AS dln_fx
  FROM cxy JOIN cx ON cx.xv = cxy.xv
           JOIN cy ON cy.yv = cxy.yv, n
)
SELECT CAST(SUM(c * dln_fx) AS BIGINT) AS mi_num_fx,
       (SELECT n FROM n) AS n,
       CAST(SUM(c * dln_fx) AS DOUBLE) / ((SELECT n FROM n) * 1000000.0)
         AS mi_nats
FROM terms
""",
)
def q_agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; day-of-week) — the
    feature-relevance / dependence measure a feature-selection pass
    computes for every candidate column pair: MI = Σ p(x,y)·
    ln(p(x,y)/(p(x)p(y))), which over exact counts becomes
    (1/N)·Σ c_xy·(ln(c_xy·N) − ln(c_x·c_y)) — every log argument an
    exact INTEGER product, taken fixed-point once per CONTINGENCY CELL
    (|types|×7 cells, the q_text_js_divergence trick), so the whole
    sum is one exact BIGINT and the single division happens at the
    end.

    Scale shape: one map-side-combinable shuffle to the contingency
    table; marginals and N derive FROM the cells (no second fact
    scan); the log arithmetic runs over the bounded cell table with
    broadcast marginal joins. 1-row output."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("xv"),
        (F.expr("unix_micros(ts) DIV 86400000000") % 7).alias("yv"),
    )
    cxy = pts.groupBy("xv", "yv").agg(F.count("*").cast("long").alias("c"))
    cxy = scoped_persist(cxy)
    cx = cxy.groupBy("xv").agg(F.sum("c").cast("long").alias("cx"))
    cy = cxy.groupBy("yv").agg(F.sum("c").cast("long").alias("cy"))
    n = cxy.agg(F.sum("c").cast("long").alias("n"))
    lnfx = lambda col: F.floor(
        F.log(col.cast("double")) * 1000000
    ).cast("long")
    terms = (
        cxy.join(F.broadcast(cx), "xv")
        .join(F.broadcast(cy), "yv")
        .crossJoin(F.broadcast(n))
        .select(
            "c",
            "n",
            (
                lnfx(F.col("c") * F.col("n"))
                - lnfx(F.col("cx") * F.col("cy"))
            ).alias("dln_fx"),
        )
    )
    return terms.agg(
        F.sum(F.col("c") * F.col("dln_fx")).cast("long").alias("mi_num_fx"),
        F.max("n").alias("n"),
        (
            F.sum(F.col("c") * F.col("dln_fx")).cast("double")
            / (F.max("n") * 1000000.0)
        ).alias("mi_nats"),
    )
