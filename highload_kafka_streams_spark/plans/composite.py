"""Composite analytics queries — multi-operator pipelines in the shape a
user of the reference engine would actually run (TPC-H-style star joins,
pivot, percentiles, deterministic moment statistics, subqueries).

Each query chains several SURVEY.md §2 operators through one Catalyst
plan, so the oracle gate checks operator *composition*, not just isolated
operators. Scale posture: dims (`region`, `nation`, `supplier`,
filtered `customer`) broadcast; the only shuffles left are the fact-table
aggregations themselves. Double aggregates go through the fixed-point
``compat`` helpers so the DuckDB hash-compare is bit-exact (SURVEY.md §5
hazards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.compat import dsum, dsum_sql
from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

_REVENUE = "l_extendedprice * (1 - l_discount)"


@query(
    "q_tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {dsum_sql(_REVENUE, "revenue")},
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per open order, top 10. The filtered customer side broadcasts;
    the orders⋈lineitem join shuffles on the order key — at 100 TB both
    facts would be bucketed by orderkey making this join co-located."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-03-15"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.expr(_REVENUE), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5_local_supplier",
    oracle=f"""
SELECT n_name,
       {dsum_sql(_REVENUE, "revenue")}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star join, revenue of lineitems whose
    supplier and customer share a nation inside one region. All four dims
    broadcast; lineitem⋈orders is the single shuffled join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.expr(_REVENUE), "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q_tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {dsum_sql(_REVENUE, "revenue")},
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned
    items in a quarter. Customer is too big to broadcast unfiltered at
    real scale — it joins shuffled on custkey; nation broadcasts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.expr(_REVENUE), "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): order counts per priority × status. The
    pivot value list is DECLARED, not discovered — an undeclared pivot
    needs an extra distinct-collect job over the corpus before planning,
    which is a driver-side scan at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_percentiles",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.90), 4) AS p90
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile`, the exact
    form — `approx_percentile`/t-digest is the 100 TB path but its sketch
    merges are engine-specific, so the oracle-checked query is the exact
    one; both engines interpolate linearly, rounded to absorb the last-ulp
    difference in interpolation order)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.90)"), 4).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


# moment statistics from exact integer power sums (scale 10 → x*10 is
# exact to the fixture's precision; Σ(10x)² at sf0.1 ≈ 6e17 < int64 max)
_SS = "CAST(FLOOR(o_totalprice * 10 + 0.5) AS BIGINT)"


@query(
    "q_agg_stats_moments",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       round(
         sqrt((CAST(SUM({_SS} * {_SS}) AS DOUBLE)
               - CAST(SUM({_SS}) AS DOUBLE) * CAST(SUM({_SS}) AS DOUBLE)
                 / count(*))
              / (count(*) - 1)) / 10,
         2) AS stddev_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample standard deviation per group, computed from exact integer
    power sums (Σx, Σx² over fixed-point values) instead of the engine's
    native `stddev`: both engines' streaming-moment implementations are
    summation-order-sensitive, integer power sums are not — the classic
    two-pass-free determinism trick for distributed moment statistics."""
    orders = load_table(spark, sf_dir, "orders")
    s = F.floor(F.col("o_totalprice") * 10 + 0.5).cast("long")
    n = F.count("*")
    # integer power sums are exact; the variance combine happens in double
    # with a FIXED op order (sum-of-squares minus squared-sum/n) so both
    # engines compute bit-identical values — n·Σx² in int64 would overflow
    var = (
        F.sum(s * s).cast("double")
        - F.sum(s).cast("double") * F.sum(s).cast("double") / n
    ) / (n - 1)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            F.round(F.sqrt(var) / 10, 2).alias("stddev_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_subquery_exists",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
ORDER BY c_custkey
""",
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — Catalyst decorrelates it into a left
    semi join (same plan a hand-written `left_semi` would give)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        ORDER BY c_custkey
        """
    )


@query(
    "q_subquery_scalar_correlated",
    oracle="""
WITH avg_per_cust AS (
  SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0
           / COUNT(o_totalprice) AS cust_avg
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o JOIN avg_per_cust a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > 2 * a.cust_avg
ORDER BY o.o_orderkey
""",
)
def q_subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than 2× their customer's
    average order value. Written as the subquery form — Catalyst rewrites
    it to the aggregate+join the oracle SQL spells out explicitly."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 2 * (
          SELECT SUM(CAST(FLOOR(i.o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0
                   / COUNT(i.o_totalprice)
          FROM orders i WHERE i.o_custkey = o.o_custkey
        )
        ORDER BY o.o_orderkey
        """
    )


@query(
    "q_outlier_p99_filter",
    oracle="""
WITH th AS (
  SELECT event_type, round(quantile_cont(value, 0.99), 4) AS p99
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n_total,
       count(*) FILTER (WHERE e.value > th.p99) AS n_outliers,
       th.p99 AS p99
FROM events e JOIN th ON e.event_type = th.event_type
GROUP BY e.event_type, th.p99
ORDER BY e.event_type
""",
)
def q_outlier_p99_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based outlier screening: per-type exact p99 threshold,
    then a conditional count of rows above it — the numeric-quality
    filter a feature pipeline runs before training. The per-group
    threshold table is tiny (one row per event_type) and broadcast back
    onto the fact table, so the big side shuffles once for the
    aggregation and never for the join. round(,4) on the interpolated
    quantile absorbs last-ulp interpolation differences between engines
    (same trick as q_agg_percentiles); at 100 TB swap `percentile` for
    `approx_percentile` and keep the identical plan shape."""
    ev = load_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99")
    )
    return (
        ev.join(F.broadcast(th), "event_type")
        .groupBy("event_type", "p99")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias(
                "n_outliers"
            ),
        )
        .select("event_type", "n_total", "n_outliers", "p99")
        .orderBy("event_type")
    )


@query(
    "q_tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {dsum_sql("l_extendedprice * l_discount", "revenue")},
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan→filter→global-agg — the pushdown
    showcase. Every predicate reaches the parquet scan (range + interval
    filters on three columns), the projection reads only the three
    needed columns, and the single global aggregate is map-side
    combined into one row per task. At 100 TB this query is I/O-bound
    by exactly the bytes the pushed filters + pruned schema admit."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q_tpch_q18_large_orders",
    oracle=f"""
WITH qty AS (
  SELECT l_orderkey, {dsum_sql("l_quantity", "total_qty")}
  FROM lineitem GROUP BY l_orderkey
),
big AS (SELECT * FROM qty WHERE total_qty > 150)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, big.total_qty
FROM big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: self-contained fact aggregation (quantity per
    order) feeding a HAVING filter, then joined back to orders +
    customer for the top large orders. The heavy groupBy happens FIRST
    and shrinks the fact table to the rare qualifying keys, so the
    subsequent joins move almost nothing; orderBy+limit is a k-heap.
    At 100 TB the quantity rollup reuses the orderkey bucketing the
    Q3 join would also want."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q_tpch_q14_promo_revenue",
    oracle=f"""
WITH j AS (
  SELECT l_extendedprice * (1 - l_discount) AS rev, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-07-01'
),
s AS (
  SELECT {dsum_sql("CASE WHEN p_type = 'PROMO' THEN rev ELSE 0.0 END", "promo_revenue")},
         {dsum_sql("rev", "total_revenue")}
  FROM j
)
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share_pct
FROM s
""",
)
def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share over a shipdate window.
    `part` is a bounded dimension (20k rows at sf0.1) and broadcasts, so
    the fact side never shuffles — the scan's pushed shipdate range
    bounds the bytes read, the broadcast hash join is map-side, and the
    two conditional fixed-point sums partial-aggregate to a single row
    per task. The final share divides the two already-deterministic
    doubles, so the ratio is bit-identical cross-engine. At 100 TB this
    is one pass over the pruned fact bytes with zero exchanges before
    the single-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-07-01")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0), "promo_revenue"),
            dsum(rev, "total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            (100.0 * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_share_pct"
            ),
        )
    )


@query(
    "q_tpch_q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_sql("volume", "revenue")}, count(*) AS n_lines
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — the double-dimension snowflake (nation joined TWICE
    under different roles). Both nation legs and supplier/customer
    broadcast; the nation filter prunes the fact stream EARLY through
    the broadcast joins (Catalyst pushes the two-nation disjunction
    into the build sides), so the only shuffle is the final 3-key
    aggregate of the surviving sliver. At 100 TB role-playing dims are
    where accidental shuffle joins usually creep in — this pins the
    all-broadcast plan."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), "revenue"), F.count("*").alias("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _exact_ntile_desc(
    df: DataFrame,
    key: str,
    tiebreak: str,
    out: str,
    k: int = 5,
    n_buckets: int = 32,
) -> DataFrame:
    """Add ``out`` = exact ``ntile(k) OVER (ORDER BY key DESC, tiebreak)``
    WITHOUT a global single-task sort — the distributed two-pass
    row-number (llm/packing.py idiom):

    1. ~n_buckets cut points on ``key`` via ``percentile_approx`` (one
       broadcast row, no driver collect). The cuts only pick bucket
       boundaries; the rank each row gets is exact wherever they land,
       so cross-engine percentile drift cannot change the result.
    2. bucket = #cuts ≤ key — monotone, so bucket-DESC order equals the
       global key-DESC order and equal keys share a bucket (the
       tiebreak stays entirely within one bucket's window).
    3. per-bucket counts (tiny) → cumulative offsets + total n.
    4. rank = offset + within-bucket row_number; ntile derived
       arithmetically from (rank, n): the first n%k tiles take
       ⌈n/k⌉ rows, the rest ⌊n/k⌋ — SQL ntile's big-buckets-first rule.
    """
    from pyspark.sql import Window

    cuts = df.agg(
        F.percentile_approx(
            key, [i / n_buckets for i in range(1, n_buckets)]
        ).alias("__cuts")
    )
    bucketed = df.crossJoin(F.broadcast(cuts)).withColumn(
        "__bucket",
        F.size(F.filter("__cuts", lambda c: c <= F.col(key))),
    )
    bucket_w = Window.orderBy(F.col("__bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bucketed.groupBy("__bucket")
        .agg(F.count("*").alias("__bn"))
        .select(
            "__bucket",
            F.coalesce(
                F.sum("__bn").over(bucket_w), F.lit(0).cast("long")
            ).alias("__offset"),
            F.sum("__bn").over(Window.partitionBy()).alias("__n"),
        )
    )
    within = Window.partitionBy("__bucket").orderBy(
        F.col(key).desc(), F.col(tiebreak)
    )
    rank = F.col("__offset") + F.row_number().over(within)
    q = F.floor(F.col("__n") / k).cast("long")  # small-bucket size
    rem = (F.col("__n") % k).cast("long")  # number of big buckets
    big_rows = rem * (q + 1)  # rows covered by the big buckets
    ceil_div = lambda a, b: F.floor((a + b - 1) / b).cast("long")  # noqa: E731
    tile = F.when(rank <= big_rows, ceil_div(rank, q + 1)).otherwise(
        rem + ceil_div(rank - big_rows, q)
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(out, tile.cast("int"))
        .drop("__bucket", "__cuts", "__offset", "__n")
    )


@query(
    "q_customer_rfm",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         {dsum_sql("o_totalprice", "monetary")}
  FROM orders
  GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_order, frequency, monetary,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       {dsum_sql("monetary", "segment_value")}
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quintiles and the
    value held by each of the 125 segments; the classic CRM rollup a
    stream processor maintains as a KTable of per-customer aggregates.
    ntile ties are broken by the customer key so quintile membership is
    deterministic cross-engine; the monetary sums are fixed-point.

    Scale shape (de-weaked in r4 per VERDICT): the per-customer
    aggregate shrinks orders to |customers| rows, but |customers| is
    unbounded, so each of the three quintile scores comes from
    :func:`_exact_ntile_desc` — a bucketed two-pass exact row-number,
    identical output to the oracle's global ``ntile(5)`` windows but
    with per-task work bounded by bucket size, never a single-task
    sort. Recency keys on epoch days so the cut points stay integral."""
    o = load_table(spark, sf_dir, "orders")

    per_cust = scoped_persist(
        o.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            dsum(F.col("o_totalprice"), "monetary"),
        ).withColumn(
            "last_order_days",
            F.datediff("last_order", F.lit("1970-01-01")).cast("long"),
        )
    )
    scored = _exact_ntile_desc(
        per_cust, "last_order_days", "o_custkey", "r_score"
    )
    scored = _exact_ntile_desc(scored, "frequency", "o_custkey", "f_score")
    # keyed on the RAW double so the order matches the oracle's ntile
    # exactly even where two sums round to the same cent
    scored = _exact_ntile_desc(scored, "monetary", "o_custkey", "m_score")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("monetary"), "segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q_tpch_q19_disjunctive",
    oracle=f"""
SELECT {dsum_sql("l_extendedprice * (1 - l_discount)", "revenue")},
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""",
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three disjunctive brand/size/quantity branches —
    the predicate structure that separates optimizers. Catalyst
    factors the single-table conjuncts out of the OR: the l_quantity
    range union pushes to the lineitem scan and the brand/size union
    to the (broadcast) part scan, so each side is pre-filtered BEFORE
    the join even though no single branch spans both tables. The
    remaining cross-table disjunction evaluates post-join inside
    codegen. Plan-asserted: both scans carry pushed Or filters."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(branch).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q_tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority for orders with at
    least one line shipped after the order date — the EXISTS-decorrelation
    showcase. Catalyst rewrites the correlated EXISTS into a LEFT SEMI
    join on orderkey (each order tested once, no row multiplication
    from multi-line matches), the orderdate range pushes to the orders
    scan, and the priority rollup runs on the surviving sliver."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_seasonality_dow",
    oracle=f"""
WITH daily AS (
  SELECT date_part('dow', o_orderdate) AS dow,
         count(*) AS n_orders,
         {dsum_sql("o_totalprice", "revenue")}
  FROM orders
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total, count(*) AS n_dows
  FROM daily
)
SELECT dow, n_orders, revenue,
       CAST(n_orders AS DOUBLE) * (SELECT n_dows FROM tot)
         / (SELECT n_total FROM tot) AS seasonal_index
FROM daily
ORDER BY dow
""",
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index — each weekday's order share
    relative to a uniform week (index > 1: over-indexed day). The
    decomposition step every forecast/anomaly baseline starts from;
    the index divides exact integer counts (n_orders · n_dows /
    n_total), so it's bit-stable cross-engine. One 7-group aggregate +
    a broadcast totals row; nothing scales with the corpus but the
    first pass."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.dayofweek("o_orderdate").alias("dow_spark")).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dow: 0=Sunday..6
    daily = daily.select(
        (F.col("dow_spark") - 1).cast("bigint").alias("dow"),
        "n_orders",
        "revenue",
    )
    tot = daily.agg(
        F.sum("n_orders").alias("n_total"), F.count("*").alias("n_dows")
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_orders",
            "revenue",
            (
                F.col("n_orders").cast("double")
                * F.col("n_dows")
                / F.col("n_total")
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


@query(
    "q_abc_pareto",
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey, {dsum_sql("l_extendedprice", "revenue_raw")}
  FROM lineitem GROUP BY l_partkey
),
fx AS (
  SELECT l_partkey,
         CAST(FLOOR(revenue_raw * 100 + 0.5) AS BIGINT) AS rev_c
  FROM per_part
),
cum AS (
  SELECT l_partkey, rev_c,
         CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
         CAST(SUM(rev_c) OVER () AS BIGINT) AS tot_c
  FROM fx
)
SELECT CASE WHEN 5 * cum_c <= 4 * tot_c THEN 'A'
            WHEN 20 * cum_c <= 19 * tot_c THEN 'B'
            ELSE 'C' END AS band,
       count(*) AS n_parts,
       CAST(SUM(rev_c) AS BIGINT) AS band_rev_c
FROM cum
GROUP BY 1
ORDER BY band
""",
)
def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification — parts banded by cumulative revenue
    share (A: first 80%, B: to 95%, C: tail), the inventory-analytics
    standard for '20% of SKUs carry 80% of value'. Band cuts compare
    integers (5·cum ≤ 4·total etc. on fixed-point cents), so no float
    boundary can flip a part between engines; ties in revenue order
    break on the part key.

    Scale shape (de-weaked in r4 per VERDICT): the per-part rollup
    shrinks lineitem to |parts| rows, but |parts| grows with scale, so
    the running sum is a DISTRIBUTED two-pass prefix sum (the
    llm/packing.py idiom), never a single-task global window:

    1. ~32 revenue cut points via ``percentile_approx`` (one tiny row,
       broadcast plan-side — no driver collect). The cuts only choose
       bucket BOUNDARIES; the final cumsum is exact wherever the
       approximation lands, so cross-engine percentile differences
       cannot affect the result.
    2. bucket = #cuts ≤ rev_c — monotone in rev_c, so bucket order
       (DESC) equals the global (rev_c DESC) order across buckets and
       equal revenues always share a bucket.
    3. per-bucket totals (≤33 rows) → cumulative offsets + grand total
       via a window over that tiny table only.
    4. within-bucket running sum partitioned by bucket — per-task work
       is bounded by bucket size (~|parts|/32), not |parts|.
    """
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    per_part = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice"), "revenue_raw")
    )
    fx = scoped_persist(
        per_part.select(
            "l_partkey",
            F.floor(F.col("revenue_raw") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rev_c"),
        )
    )
    n_buckets = 32
    cuts = fx.agg(
        F.percentile_approx(
            "rev_c", [i / n_buckets for i in range(1, n_buckets)]
        ).alias("cuts")
    )
    bucketed = fx.crossJoin(F.broadcast(cuts)).select(
        "l_partkey",
        "rev_c",
        F.size(F.filter("cuts", lambda c: c <= F.col("rev_c"))).alias(
            "bucket"
        ),
    )
    bucket_w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.sum("rev_c").alias("bucket_rev"))
        .select(
            "bucket",
            F.coalesce(
                F.sum("bucket_rev").over(bucket_w), F.lit(0).cast("long")
            ).alias("bucket_offset"),
            F.sum("bucket_rev").over(Window.partitionBy()).alias("tot_c"),
        )
    )
    within = (
        Window.partitionBy("bucket")
        .orderBy(F.col("rev_c").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.join(F.broadcast(offsets), "bucket").select(
        "rev_c",
        (F.col("bucket_offset") + F.sum("rev_c").over(within)).alias("cum_c"),
        "tot_c",
    )
    band = (
        F.when(5 * F.col("cum_c") <= 4 * F.col("tot_c"), "A")
        .when(20 * F.col("cum_c") <= 19 * F.col("tot_c"), "B")
        .otherwise("C")
    )
    return (
        cum.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev_c").alias("band_rev_c"),
        )
        .orderBy("band")
    )


@query(
    "q_growth_mom",
    oracle=f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         count(*) AS n_orders,
         {dsum_sql("o_totalprice", "revenue")}
FROM orders
  GROUP BY 1
),
fx AS (
  SELECT month, n_orders,
         CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT) AS rev_c
  FROM monthly
)
SELECT month, n_orders, rev_c,
       LAG(rev_c) OVER (ORDER BY month) AS prev_rev_c,
       CASE WHEN LAG(rev_c) OVER (ORDER BY month) > 0
            THEN CAST(rev_c - LAG(rev_c) OVER (ORDER BY month) AS DOUBLE)
                 / LAG(rev_c) OVER (ORDER BY month)
       END AS mom_growth
FROM fx
ORDER BY month
""",
)
def q_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth — the reporting staple: monthly revenue
    (fixed-point cents so the monthly totals are exact), previous
    month via lag, growth as a division of exact integers (NULL on a
    missing/zero base instead of ±inf). The monthly rollup shrinks
    orders to |months| rows before the single tiny global lag window —
    the same collapse-then-window shape as the backlog sweep-line."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    fx = monthly.select(
        "month",
        "n_orders",
        F.floor(F.col("revenue") * 100 + F.lit(0.5)).cast("long").alias("rev_c"),
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_c").over(w)
    return fx.select(
        "month",
        "n_orders",
        "rev_c",
        prev.alias("prev_rev_c"),
        F.when(
            prev > 0, (F.col("rev_c") - prev).cast("double") / prev
        ).alias("mom_growth"),
    ).orderBy("month")


@query(
    "q_referential_audit",
    oracle="""
SELECT 'orders_without_customer' AS check_name,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_violations
UNION ALL
SELECT 'customers_without_orders',
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey))
UNION ALL
SELECT 'lineitems_without_order',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
ORDER BY check_name
""",
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts across the star's
    foreign keys (the data-quality gate run after every load; a
    nonzero row is a broken pipeline, and 'customers without orders'
    doubles as a churn/readiness signal). Each check is an anti-join
    counted to one row: the keyed side shuffles 8-byte keys only, and
    the three checks union to a fixed 3-row report."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def check(name, left, right, lk, rk):
        return (
            left.join(right, F.col(lk) == F.col(rk), "left_anti")
            .agg(F.count("*").alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )

    return (
        check("orders_without_customer", o, c, "o_custkey", "c_custkey")
        .unionByName(
            check("customers_without_orders", c, o, "c_custkey", "o_custkey")
        )
        .unionByName(
            check("lineitems_without_order", li, o, "l_orderkey", "o_orderkey")
        )
        .orderBy("check_name")
    )


@query(
    "q_column_profile",
    oracle="""
SELECT 'o_custkey' AS col, count(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       count(DISTINCT o_custkey) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_repr,
       CAST(max(o_custkey) AS VARCHAR) AS max_repr
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderpriority),
       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
ORDER BY col
""",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — rows / nulls / distinct / min / max per column
    in one report: the schema-drift detector every warehouse load runs
    (a null-count jump or a distinct-count collapse is an upstream
    break, caught before consumers). One aggregate pass per column over
    the same scan (Catalyst reuses the exchange-free scans); extrema
    rendered as strings so one report covers heterogeneous types. At
    100 TB you'd swap count(DISTINCT) for approx_count_distinct and
    keep the shape."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col):
        return o.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_repr"),
            F.max(col).cast("string").alias("max_repr"),
        ).select("col", "n_rows", "n_null", "n_distinct", "min_repr", "max_repr")

    return (
        prof("o_custkey")
        .unionByName(prof("o_orderstatus"))
        .unionByName(prof("o_orderpriority"))
        .orderBy("col")
    )


@query(
    "q_tpch_q8_market_share",
    oracle="""
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
              AS BIGINT) AS vol_fp,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN part     ON p_partkey = l_partkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_12' THEN vol_fp ELSE 0 END)
            AS BIGINT) AS nation_vol_fp,
       CAST(SUM(vol_fp) AS BIGINT) AS total_vol_fp,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_12' THEN vol_fp ELSE 0 END)
            AS DOUBLE) / SUM(vol_fp) AS mkt_share
FROM vol
GROUP BY o_year
ORDER BY o_year
""",
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within one region's
    market for one part type, the share of volume supplied by one
    nation, per year — the conditional-ratio aggregate over a
    seven-table star join. All five dims broadcast (part is filtered to
    one type first); lineitem⋈orders stays the single shuffled join.
    The share divides two exact fixed-point BIGINTs, so the ratio is
    the same double in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    vol_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")
    nation_fp = F.when(
        F.col("supp_nation") == "NATION_12", vol_fp
    ).otherwise(F.lit(0).cast("long"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(nation_fp).alias("nation_vol_fp"),
            F.sum(vol_fp).alias("total_vol_fp"),
        )
        .select(
            "o_year",
            "nation_vol_fp",
            "total_vol_fp",
            (
                F.col("nation_vol_fp").cast("double") / F.col("total_vol_fp")
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q13_count_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_tpch_q13_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    order-less customers appear with count 0, then a histogram of the
    per-customer counts. Two shuffles total — the custkey join/agg and
    the tiny c_count rollup; count(o_orderkey) (not count(*)) is what
    makes the no-order rows count 0 in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q_tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                       AS BIGINT)) AS BIGINT) AS total_rev_fp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev_fp,
       total_rev_fp / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev_fp = (SELECT max(total_rev_fp) FROM revenue)
ORDER BY s_suppkey
""",
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the supplier(s) tied at the maximum — the scalar-aggregate-
    subquery pattern. The per-supplier rollup computes once and is
    reused for both the max and the filter (persist + broadcast of the
    1-row max); revenue compares as fixed-point BIGINT so 'equal to
    max' can't miss on a last-ulp double."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = scoped_persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                    + F.lit(0.5)
                ).cast("long")
            ).alias("total_rev_fp")
        )
    )
    mx = revenue.agg(F.max("total_rev_fp").alias("max_rev_fp"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_fp") == F.col("max_rev_fp"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            "total_rev_fp",
            (F.col("total_rev_fp") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q17_small_quantity",
    oracle=f"""
WITH pa AS (
  SELECT l_partkey AS agg_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         count(*) AS cnt
  FROM lineitem
  GROUP BY l_partkey
)
SELECT {dsum_sql("l_extendedprice", "total_price")},
       count(*) AS n_lines,
       {dsum_sql("l_extendedprice / 7.0", "avg_yearly")}
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
""",
)
def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): lines whose quantity is
    below 20% of the part's average quantity — the correlated scalar
    AVG subquery, decorrelated into a per-part aggregate joined back.
    The 'qty < 0.2·avg' test is algebraically rearranged to
    ``5·qty·cnt < sum_qty`` over exact integers (fixture quantities are
    integral), so no double division can flip a boundary line between
    engines. The per-part aggregate is small (|parts| rows) and
    broadcasts; lineitem is scanned twice but shuffles only for its own
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    pa = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(pa), F.col("agg_partkey") == F.col("l_partkey"))
        .filter(
            5 * F.col("l_quantity").cast("long") * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg(
            dsum(F.col("l_extendedprice"), "total_price"),
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") / 7.0, "avg_yearly"),
        )
    )


@query(
    "q_tpch_q21_sole_latest_shipper",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN nation   ON s_nationkey = n_nationkey
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders   ON o_orderkey = l1.l_orderkey
WHERE n_name = 'NATION_2'
  AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= l1.l_shipdate
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
)
def q_tpch_q21_sole_latest_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, adapted to the fixture schema (no
    receipt/commit dates): among completed ('F') multi-supplier orders,
    count per supplier the lines where that supplier was the SOLE
    LATEST shipper — every other supplier's line shipped strictly
    earlier. Preserves Q21's defining structure: a correlated EXISTS
    (another supplier participated) plus a correlated NOT EXISTS with
    an inequality (nobody else shipped as late), decorrelated
    Spark-side into a LEFT SEMI and a LEFT ANTI self-join on the order
    key with the supplier/date predicates as residual join conditions
    — the §2.3 semi/anti operators doing subquery duty. One shuffle
    family on l_orderkey serves both self-joins; supplier and nation
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_2"
    )
    l1 = li.select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_suppkey").alias("sk1"),
        F.col("l_shipdate").alias("ship1"),
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"),
        F.col("l_suppkey").alias("sk2"),
        F.col("l_shipdate").alias("ship2"),
    )
    qualified = (
        l1.join(
            l2,
            (F.col("k1") == F.col("k2")) & (F.col("sk1") != F.col("sk2")),
            "left_semi",
        )
        .join(
            li.select(
                F.col("l_orderkey").alias("k3"),
                F.col("l_suppkey").alias("sk3"),
                F.col("l_shipdate").alias("ship3"),
            ),
            (F.col("k1") == F.col("k3"))
            & (F.col("sk1") != F.col("sk3"))
            & (F.col("ship3") >= F.col("ship1")),
            "left_anti",
        )
    )
    return (
        qualified.join(
            orders, F.col("k1") == F.col("o_orderkey")
        )
        .join(F.broadcast(supp), F.col("sk1") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@query(
    "q_tpch_q22_dormant_customers",
    oracle="""
WITH pool AS (
  SELECT c_custkey, c_nationkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer
  WHERE c_nationkey IN (1, 3, 5, 7, 9)
),
avg_pos AS (
  SELECT CAST(SUM(bal_c) AS BIGINT) AS sum_c, count(*) AS cnt
  FROM pool WHERE bal_c > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
FROM pool, avg_pos
WHERE bal_c * cnt > sum_c
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def q_tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape, adapted to the fixture schema (no phone
    country codes — nation keys select the pool): rich-but-dormant
    customers, i.e. above-average balance in a nation pool with no
    recent orders, summarized per nation. Preserves Q22's structure:
    an uncorrelated scalar AVG subquery gating the pool plus a NOT
    EXISTS anti-join against orders. The 'balance > avg' test
    multiplies through by the count (``bal·cnt > sum`` on fixed-point
    cents), so the average is never materialized as a double; the
    1-row (sum, cnt) broadcasts, and the anti-join is the only
    shuffle pairing."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    pool = cust.filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_c"),
    )
    avg_pos = pool.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_c"), F.count("*").alias("cnt")
    )
    return (
        pool.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("bal_c") * F.col("cnt") > F.col("sum_c"))
        .join(
            orders,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_c").alias("totacctbal_c"),
        )
        .orderBy("c_nationkey")
    )


# --- derived partsupp: the fixture ships no partsupp table, so the six
# TPC-H shapes that need one (Q2/Q9/Q11/Q16/Q20) derive it from lineitem:
# one (partkey, suppkey) row per observed supplying pair, with the unit
# price floor(l_extendedprice / l_quantity) as the supply-cost stand-in
# and the total supplied quantity as the availqty stand-in. Both are
# exact fixed-point BIGINTs so every downstream comparison ("equal to
# the min cost", "value share > threshold") is integer arithmetic in
# both engines. At scale this is one map-side-combinable groupBy on a
# (partkey, suppkey) composite key — cardinality |parts|·|suppliers per
# part|, far below |lineitem| — and every query below reuses the same
# shuffle key for its ps join.

_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000 + 0.5)
                  AS BIGINT)) AS ps_cost_fp,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_qty
  FROM lineitem GROUP BY 1, 2
"""


def _derived_partsupp(li: DataFrame) -> DataFrame:
    """lineitem -> (ps_partkey, ps_suppkey, ps_cost_fp, ps_qty)."""
    unit_fp = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 10000 + F.lit(0.5)
    ).cast("long")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(unit_fp).alias("ps_cost_fp"),
        F.sum(F.col("l_quantity").cast("long")).alias("ps_qty"),
    )


@query(
    "q_tpch_q2_min_cost_supplier",
    oracle=f"""
WITH ps AS ({_PS_SQL}),
eligible AS (
  SELECT ps_partkey, ps_cost_fp, s_acctbal, s_name, n_name
  FROM ps JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
mn AS (
  SELECT ps_partkey AS mk, MIN(ps_cost_fp) AS min_cost_fp
  FROM eligible GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_cost_fp
FROM eligible JOIN mn ON ps_partkey = mk AND ps_cost_fp = min_cost_fp
JOIN part ON p_partkey = ps_partkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the European supplier(s) offering it at the region-wide minimum
    cost — the classic correlated-MIN subquery, decorrelated as a
    per-partkey MIN rollup joined back on (partkey, cost). Supplier/
    nation/region and the filtered part dim all broadcast; the derived
    partsupp and its min-rollup share the ps_partkey shuffle key, and
    cost equality compares fixed-point BIGINTs so a tie at the min is
    never lost to a double ulp. The LIMIT orders by a total key
    (acctbal, nation, supplier, partkey) so the cut is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    # the per-part MIN only matters for parts that survive the part
    # filter, so the filter joins in BEFORE the rollup (correct because
    # mn is keyed per part): at the reference filter's ~4% part
    # selectivity this shrinks both the rollup input and the rejoin ~25×.
    # r11 (guide §3.2/§2.3): push BOTH restrictions below the rollup as
    # semi-joins on the FACT table — the (partkey, suppkey) groups are
    # dropped wholesale by a partkey or suppkey predicate, so per-group
    # MINs are unchanged (oracle re-verified at sf0.01/sf0.1) and the
    # rollup aggregates ~1% of lineitem instead of all of it.
    euro_keys = (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey")
    )
    li_q2 = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("p_partkey") == F.col("l_partkey"),
        "left_semi",
    ).join(
        F.broadcast(euro_keys),
        F.col("s_suppkey") == F.col("l_suppkey"),
        "left_semi",
    )
    # persist: eligible feeds both the min rollup and the rejoin —
    # uncached, the whole scan→semi-join→rollup lineage executes twice
    # (the two consumers key their exchanges differently, so nothing
    # reuses). The cached table is ~1% of partsupp.
    eligible = scoped_persist(
        _derived_partsupp(li_q2)
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            "ps_partkey", "ps_cost_fp", "s_acctbal", "s_name", "n_name",
            "p_partkey", "p_name",
        )
    )
    mn = eligible.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_cost_fp").alias("min_cost_fp")
    )
    return (
        eligible.join(
            F.broadcast(mn),
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_cost_fp") == F.col("min_cost_fp")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_cost_fp")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q9_product_profit",
    oracle=f"""
WITH ps AS ({_PS_SQL})
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)
                - ps_cost_fp * CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS profit_fp,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                     AS BIGINT)
                - ps_cost_fp * CAST(l_quantity AS BIGINT)) AS BIGINT)
         / 10000.0 AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation and
    order year, revenue minus supply cost over the parts matching a
    name pattern. The derived partsupp joins back to lineitem on the
    (partkey, suppkey) key it was built on; its rollup is orders of
    magnitude smaller than lineitem (one row per observed supplying
    pair), so AQE broadcasts it at fixture scale — at 100 TB it
    becomes the build side of a shuffled join and both sides would be
    bucketed on partkey. The orders join is the only other pairing;
    part (pre-filtered by the LIKE), supplier, and nation broadcast.
    Profit is revenue_fp − cost_fp·qty in exact BIGINTs, so the
    per-(nation, year) sums hash identically."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # r11 (guide §3.2/§2.3 — reduce the big side before the shuffle):
    # derive the partsupp rollup from the PART-PREFILTERED lineitem
    # instead of the full table. The LIKE keeps ~10% of parts, the
    # rollup's min/sum group on (partkey, suppkey), and a partkey
    # predicate drops whole groups only — per-group aggregates are
    # unchanged (oracle re-verified at sf0.01/sf0.1). The q2 rollup
    # applies the same discipline; this was the one TPC-H shape still
    # aggregating lineitem twice at full width.
    li_red = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("p_partkey") == F.col("l_partkey"),
        "left_semi",
    )
    ps = _derived_partsupp(li_red)
    rev_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")
    profit_line = rev_fp - F.col("ps_cost_fp") * F.col("l_quantity").cast("long")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit_line).alias("profit_fp"))
        .select(
            "nation",
            "o_year",
            "profit_fp",
            (F.col("profit_fp") / 10000.0).alias("profit"),
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q11_important_stock",
    oracle=f"""
WITH ps AS ({_PS_SQL}),
euro AS (
  SELECT ps_partkey, ps_cost_fp * ps_qty AS val_fp
  FROM ps JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
pv AS (
  SELECT ps_partkey, CAST(SUM(val_fp) AS BIGINT) AS value_fp
  FROM euro GROUP BY 1
),
tot AS (SELECT CAST(SUM(value_fp) AS BIGINT) AS total_fp,
               CAST(COUNT(*) AS BIGINT) AS n_parts FROM pv)
SELECT ps_partkey, value_fp, value_fp / 10000.0 AS part_value
FROM pv, tot
WHERE value_fp * n_parts > 2 * total_fp
ORDER BY value_fp DESC, ps_partkey
""",
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part inventory value held
    by one region's suppliers, kept where the part's value exceeds
    2× the mean part value — the uncorrelated scalar-subquery HAVING,
    with a scale-invariant gate (TPC-H's fixed share fraction zeroes
    out as |parts| grows; value·n_parts > 2·total keeps a selective
    tail at any SF). The per-part rollup persists and is reused for
    both the grand total (1-row broadcast) and the filter, so lineitem
    is read once; the gate multiplies through to integers instead of
    materializing a double fraction."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    # r11 (guide §3.2/§2.3): resolve the region restriction to a
    # EUROPEAN SUPPLIER-KEY set first (three broadcast-size dims) and
    # semi-join lineitem on it BEFORE the partsupp rollup — the rollup
    # then aggregates ~1/5 of the fact table, and the old post-rollup
    # supplier→nation→region join chain disappears (each ps row was
    # 1:1 with its supplier, so those joins only re-checked the same
    # predicate). Groups key on (partkey, suppkey); a suppkey filter
    # drops whole groups, so per-group sums are unchanged (oracle
    # re-verified at sf0.01/sf0.1).
    euro_keys = (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey")
    )
    li_euro = li.join(
        F.broadcast(euro_keys),
        F.col("s_suppkey") == F.col("l_suppkey"),
        "left_semi",
    )
    pv = scoped_persist(
        _derived_partsupp(li_euro)
        .groupBy("ps_partkey")
        .agg(F.sum(F.col("ps_cost_fp") * F.col("ps_qty")).alias("value_fp"))
    )
    tot = pv.agg(
        F.sum("value_fp").alias("total_fp"),
        F.count("*").alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_fp") * F.col("n_parts") > 2 * F.col("total_fp"))
        .select(
            "ps_partkey",
            "value_fp",
            (F.col("value_fp") / 10000.0).alias("part_value"),
        )
        .orderBy(F.col("value_fp").desc(), "ps_partkey")
    )


@query(
    "q_tpch_q12_priority_by_class",
    oracle="""
SELECT l_linestatus AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def q_tpch_q12_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping priority split), adapted to the fixture
    schema (no l_shipmode/commitdate/receiptdate — l_linestatus plays
    the ship-class axis and the ship-year window replaces the receipt
    window): per class, how many lines belonged to urgent/high-priority
    orders vs the rest — the conditional-count pivot over a fact⋈fact
    join. The lineitem side filters before the join (predicate reaches
    the scan), the orderkey join is the single shuffle, and the
    2-group CASE rollup is map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "q_tpch_q16_supplier_cnt",
    oracle=f"""
WITH ps AS ({_PS_SQL})
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35, 42, 49)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): distinct
    suppliers able to supply each qualifying (brand, type, size)
    combination, excluding a complaint list — NOT IN rendered as a
    broadcast anti-join (negative account balance stands in for the
    'Customer Complaints' comment scan the fixture schema lacks).
    The filtered part dim broadcasts onto the derived partsupp, and
    the distinct-count shuffles once on the (brand, type, size)
    group key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35, 42, 49)
    )
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        _derived_partsupp(li)
        .join(
            F.broadcast(complaints),
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q20_excess_suppliers",
    oracle="""
WITH pair AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
         CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                        AND l_shipdate <  TIMESTAMP '1997-01-01'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS qty96
  FROM lineitem GROUP BY 1, 2
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'AMERICA'
  AND s_suppkey IN (
    SELECT sk FROM pair JOIN part ON p_partkey = pk
    WHERE p_name LIKE '%blue%' AND qty96 > 0 AND total_qty > 4 * qty96)
ORDER BY s_name
""",
)
def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess inventory): suppliers in
    one region holding a qualifying part whose total supplied quantity
    dwarfs (>4×) what actually shipped in the probe year — Q20's
    nested IN-subquery chain with the availqty stand-in derived from
    lineitem. Both the total and the windowed sum come out of ONE
    map-side-combinable groupBy pass over lineitem (a conditional sum,
    not a second scan); the part name filter broadcasts onto the pair
    table, the qualifying supplier-key set is distinct-ed and
    broadcast, and the region-filtered supplier dim semi-joins against
    it — zero unbounded shuffles beyond the pair rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%blue%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    in96 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    qty = F.col("l_quantity").cast("long")
    pair = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(qty).alias("total_qty"),
        F.sum(F.when(in96, qty).otherwise(F.lit(0).cast("long"))).alias("qty96"),
    )
    qualifying = (
        pair.join(F.broadcast(part), F.col("p_partkey") == F.col("pk"))
        .filter((F.col("qty96") > 0) & (F.col("total_qty") > 4 * F.col("qty96")))
        .select("sk")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(F.broadcast(qualifying), F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# One dialect-portable SQL text, run VERBATIM by both engines: the Spark
# side registers the fixture tables as temp views (io.register_views)
# and executes spark.sql() on the very string the DuckDB oracle gets —
# the engine's SQL entry surface, proven by construction.
_PORTABLE_SQL = """
SELECT n_name,
       count(*) AS n_customers,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS bal_c,
       MIN(c_custkey) AS first_custkey
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment <> 'MACHINERY'
GROUP BY n_name
HAVING count(*) > 1
ORDER BY n_name
""".strip()


@query("q_sql_passthrough", oracle=_PORTABLE_SQL)
def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry surface: the engine accepts ANSI SQL text directly —
    ``io.register_views`` exposes the tables, ``spark.sql`` runs the
    EXACT string the oracle runs (join, filter, fixed-point aggregate,
    HAVING, ORDER BY — the portable core both dialects share). Zero
    translation layer: Catalyst plans the text the same way it plans
    the DataFrame API (broadcast dim, one agg exchange), because both
    lower to the same logical plan."""
    from highload_kafka_streams_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PORTABLE_SQL)


@query(
    "q_basket_pair_affinity",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
n_orders AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM ob),
brand_n AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM ob GROUP BY b),
pair_n AS (
  SELECT a.b AS brand_a, c.b AS brand_b, CAST(count(*) AS BIGINT) AS nab
  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, nab, na.nb AS n_a, nc.nb AS n_b,
       CAST(nab AS DOUBLE) * n.n / (na.nb * nc.nb) AS lift
FROM pair_n
JOIN brand_n na ON na.b = brand_a
JOIN brand_n nc ON nc.b = brand_b, n_orders n
WHERE nab >= 20
ORDER BY lift DESC, brand_a, brand_b
LIMIT 20
""",
)
def q_basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association (frequent-pair mining): brand pairs
    bought together in one order, ranked by LIFT — the
    support/confidence/lift shape of association-rule mining. The
    basket table distincts to (order, brand) FIRST (so a 100-line
    order contributes each brand once), the pair join is an
    inverted-index self-join WITHIN the order key (pairs per order
    ∝ basket², never corpus²), and the lift divides exact integer
    counts once at the end. The brand marginals broadcast; the top-20
    is a deterministic total order (lift ties broken by the pair
    itself — the count ratios make exactly equal doubles only from
    equal integer triples, which the tie-break then orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    ob = scoped_persist(ob)
    n_orders = ob.agg(F.count_distinct("o").alias("n"))
    brand_n = ob.groupBy("b").agg(F.count("*").alias("nb"))
    a, c = ob.alias("a"), ob.alias("c")
    pair_n = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(
            F.col("a.b").alias("brand_a"), F.col("c.b").alias("brand_b")
        )
        .agg(F.count("*").alias("nab"))
        .filter(F.col("nab") >= 20)
    )
    na = brand_n.select(F.col("b").alias("brand_a"), F.col("nb").alias("n_a"))
    nc = brand_n.select(F.col("b").alias("brand_b"), F.col("nb").alias("n_b"))
    return (
        pair_n.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nc), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "nab",
            "n_a",
            "n_b",
            (
                F.col("nab").cast("double") * F.col("n")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "q_join_relational_division",
    oracle="""
WITH qual AS (SELECT DISTINCT p_brand, p_type FROM part),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qual),
cover AS (
  SELECT l_suppkey AS sk,
         CAST(count(DISTINCT (p_brand, p_type)) AS BIGINT) AS ncov
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1
)
SELECT s_suppkey, s_name, ncov
FROM cover JOIN supplier ON s_suppkey = sk, nq
WHERE ncov = nq.n
ORDER BY s_suppkey
""",
)
def q_join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION ('suppliers that have shipped EVERY
    (brand, type) category'): the universal-quantifier join, expressed
    as the count-matching decomposition — distinct coverage count per
    supplier equals the category-universe count — instead of the
    double-NOT-EXISTS the textbook form uses (which Catalyst would run
    as two nested anti-joins over the fact table). One distinct-agg on
    the supplier key + a broadcast 1-row universe count; the part dim
    broadcasts onto lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nq = part.select("p_brand", "p_type").distinct().agg(
        F.count("*").alias("n")
    )
    cover = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(F.count_distinct("p_brand", "p_type").alias("ncov"))
    )
    return (
        cover.crossJoin(F.broadcast(nq))
        .filter(F.col("ncov") == F.col("n"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", "ncov")
        .orderBy("s_suppkey")
    )


@query(
    "q_latency_histogram_quantiles",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority AS pri,
         date_diff('day', o_orderdate, l_shipdate) AS d
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
h AS (SELECT pri, d, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY 1, 2),
cum AS (
  SELECT pri, d, c,
         SUM(c) OVER (PARTITION BY pri ORDER BY d) AS cum_c,
         SUM(c) OVER (PARTITION BY pri) AS n
  FROM h
)
SELECT pri, CAST(any_value(n) AS BIGINT) AS n,
       MIN(CASE WHEN cum_c >= (n + 1) // 2 THEN d END) AS median_days,
       MIN(CASE WHEN cum_c >= (9 * n + 9) // 10 THEN d END) AS p90_days
FROM cum
GROUP BY pri
ORDER BY pri
""",
)
def q_latency_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order→ship latency quantiles per priority from the INTEGER
    day histogram — the third exact-quantile strategy in the repo
    (after sort-window and histogram selection): when the value domain
    is small and discrete (days), a groupBy histogram + a cumulative
    walk over DISTINCT values yields exact ranks with no per-row sort
    and no selection loop. The windows partition per priority over
    |distinct days| rows (~thousands — domain-bounded, not
    data-bounded), which is the property that keeps this shape safe
    at 100 TB."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("d"),
    )
    h = lat.groupBy("pri", "d").agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("pri")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("pri")
    cum = h.select(
        "pri",
        "d",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    med_k = F.floor((F.col("n") + 1) / 2)
    p90_k = F.floor((9 * F.col("n") + 9) / 10)
    return (
        cum.groupBy("pri")
        .agg(
            F.any_value("n").alias("n"),
            F.min(F.when(F.col("cum_c") >= med_k, F.col("d"))).alias(
                "median_days"
            ),
            F.min(F.when(F.col("cum_c") >= p90_k, F.col("d"))).alias(
                "p90_days"
            ),
        )
        .orderBy("pri")
    )


@query(
    "q_alloc_largest_remainder",
    oracle="""
WITH rev AS (
  SELECT n_name,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev_fp
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  GROUP BY n_name
),
units AS (
  SELECT n_name, rev_fp, CAST(rev_fp // 10000 AS BIGINT) AS rev_u FROM rev
),
tot AS (SELECT CAST(SUM(rev_u) AS BIGINT) AS t FROM units),
base AS (
  SELECT n_name, rev_fp,
         CAST(1000000 * rev_u // t AS BIGINT) AS floor_alloc,
         CAST(1000000 * rev_u % t AS BIGINT) AS rem
  FROM units, tot
),
short AS (
  SELECT CAST(1000000 - SUM(floor_alloc) AS BIGINT) AS leftover FROM base
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, n_name) AS rk FROM base
)
SELECT n_name, rev_fp,
       CAST(floor_alloc + CASE WHEN rk <= s.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked, short s
ORDER BY n_name
""",
)
def q_alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional integer allocation by the largest-remainder (Hamilton)
    method: split a 1,000,000-unit budget across supplier nations in
    proportion to revenue so the integer allocations sum EXACTLY to the
    budget — floor allocations first, then the leftover units go to the
    largest fractional remainders (deterministic tie-break by name).
    Quota arithmetic stays in BIGINTs (units·rev_u DIV/MOD total —
    quota basis is whole revenue units so the multiply can't overflow
    int64 at density),
    so no float ever rounds an allocation; the ranking window runs over
    the |groups| rollup (25 rows — domain-bounded), and the 1-row
    leftover broadcasts. The allocation-sums-to-budget invariant is
    what the hash proves."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rev_fp")
        )
    )
    rev = scoped_persist(rev)
    # quota basis = whole revenue units (fp DIV 1e4): keeps units·rev_u
    # inside int64 at any realistic scale (rev_fp·1e6 overflows at sf0.1
    # density already — caught by the two-density sweep)
    units = rev.select(
        "n_name", "rev_fp", F.expr("CAST(rev_fp DIV 10000 AS BIGINT)").alias("rev_u")
    )
    tot = units.agg(F.sum("rev_u").alias("t"))
    base = units.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "rev_fp",
        F.expr("CAST(1000000 * rev_u DIV t AS BIGINT)").alias("floor_alloc"),
        F.expr("CAST(1000000 * rev_u % t AS BIGINT)").alias("rem"),
    )
    short = base.agg(
        (F.lit(1000000) - F.sum("floor_alloc")).alias("leftover")
    )
    w = Window.orderBy(F.col("rem").desc(), "n_name")
    return (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(short))
        .select(
            "n_name",
            "rev_fp",
            (
                F.col("floor_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc"),
        )
        .orderBy("n_name")
    )


@query(
    "q_skyline_pareto",
    oracle="""
WITH grp AS (
  SELECT s_suppkey, s_name,
         CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev_fp
  FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
  GROUP BY s_suppkey, s_name, s_acctbal
)
SELECT g.s_suppkey, g.s_name, g.bal_c, g.rev_fp
FROM grp g
WHERE NOT EXISTS (
  SELECT 1 FROM grp o
  WHERE o.bal_c >= g.bal_c AND o.rev_fp >= g.rev_fp
    AND (o.bal_c > g.bal_c OR o.rev_fp > g.rev_fp)
)
ORDER BY g.s_suppkey
""",
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): suppliers not dominated on
    (account balance, total revenue) — kept iff no other supplier is
    ≥ on both axes and > on at least one. The oracle states the
    textbook quadratic NOT EXISTS; the engine runs the sort-free
    linear decomposition: a point survives iff its revenue (a) beats
    the MAX revenue over all STRICTLY higher balances and (b) equals
    the max within its own balance value (ties on both axes all
    survive — no strict edge). The strictly-higher-balance running
    max is the repo's two-phase prefix aggregate yet again, this time
    as a MAX: per-balance-value rollup → within-bucket ordered prefix
    max + cross-bucket offsets over the DOMAIN-bounded bucket table
    (balance range is fixed by the schema, so the one ordered pass
    never grows with the data)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    grp = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "s_suppkey",
            "s_name",
            F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bal_c"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                    + F.lit(0.5)
                ).cast("long")
            ).alias("rev_fp")
        )
    )
    grp = scoped_persist(grp)
    per_bal = grp.groupBy("bal_c").agg(F.max("rev_fp").alias("bal_max_rev"))
    per_bal = per_bal.withColumn(
        "bkt", F.floor(F.col("bal_c") / 65536).cast("long")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("bal_c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = per_bal.withColumn("m_in", F.max("bal_max_rev").over(w_in))
    btot = per_bal.groupBy("bkt").agg(F.max("bal_max_rev").alias("bmax"))
    w_b = (
        Window.orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = btot.withColumn("m_off", F.max("bmax").over(w_b)).select(
        "bkt", "m_off"
    )
    frontier_vals = (
        within.join(F.broadcast(off), "bkt")
        .withColumn(
            "m_gt",
            F.greatest(
                F.coalesce(F.col("m_in"), F.lit(-(1 << 62))),
                F.coalesce(F.col("m_off"), F.lit(-(1 << 62))),
            ),
        )
        .filter(F.col("bal_max_rev") > F.col("m_gt"))
        .select("bal_c", "bal_max_rev")
    )
    return (
        grp.join(F.broadcast(frontier_vals), "bal_c")
        .filter(F.col("rev_fp") == F.col("bal_max_rev"))
        .select("s_suppkey", "s_name", "bal_c", "rev_fp")
        .orderBy("s_suppkey")
    )


# Benford first-digit expected frequencies, parts-per-million. These are
# MATH CONSTANTS (log10(1+1/d)·1e6, rounded) hardcoded identically in the
# Spark plan and the oracle SQL — computing log10 at runtime in two
# engines risks a last-ulp libm disagreement at the floor boundary.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
_BENFORD_SQL_VALUES = ", ".join(
    f"({d + 1}, {ppm})" for d, ppm in enumerate(_BENFORD_PPM)
)


@query(
    "q_audit_benford",
    oracle=f"""
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM digits),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
  FROM digits GROUP BY digit
),
bf(digit, benford_ppm) AS (VALUES {_BENFORD_SQL_VALUES})
SELECT bf.digit,
       CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
       CAST((COALESCE(obs.n_obs, 0) * 1000000) // n.total AS BIGINT)
         AS obs_ppm,
       CAST(bf.benford_ppm AS BIGINT) AS benford_ppm,
       CAST((COALESCE(obs.n_obs, 0) * 1000000) // n.total
            - bf.benford_ppm AS BIGINT) AS dev_ppm
FROM bf CROSS JOIN n LEFT JOIN obs ON obs.digit = bf.digit
ORDER BY bf.digit
""",
)
def q_audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud/synthetic-data screen an ingestion pipeline runs on any
    money-like column: organic multiplicative amounts follow
    P(d) = log10(1+1/d); fabricated or truncated feeds deviate.
    Emits per digit 1-9: observed count, observed ppm, the Benford
    expectation ppm, and the signed deviation.

    Determinism: the first significant digit comes from the INTEGER
    cents string (floor(x·100+0.5) then substr of the plain digit
    rendering — identical in both engines), never from log10(x) whose
    floor can disagree across libms at powers of ten; the Benford
    expectations are hardcoded integer constants; ppm shares are single
    integer floor-divisions. One map-side-combined groupBy on a
    9-value key, one broadcast total — nothing here changes at
    100 TB."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    n = digits.agg(F.count("*").alias("total"))
    obs = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    bf = spark.createDataFrame(
        [(d + 1, ppm) for d, ppm in enumerate(_BENFORD_PPM)],
        "digit long, benford_ppm long",
    )
    return (
        bf.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.expr("(COALESCE(n_obs, 0) * 1000000) DIV total")
            .cast("long")
            .alias("obs_ppm"),
            F.col("benford_ppm").cast("long").alias("benford_ppm"),
            F.expr(
                "(COALESCE(n_obs, 0) * 1000000) DIV total - benford_ppm"
            )
            .cast("long")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


@query(
    "q_dq_constraint_suite",
    oracle="""
SELECT 'completeness_c_name' AS rule,
       CAST(count(c_name) AS BIGINT) AS metric_num,
       CAST(count(*) AS BIGINT) AS metric_den,
       count(c_name) = count(*) AS passed
FROM customer
UNION ALL
SELECT 'domain_c_mktsegment',
       CAST(SUM(CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
                 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')
                 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       SUM(CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
           'FURNITURE', 'HOUSEHOLD', 'MACHINERY')
           THEN 1 ELSE 0 END) = count(*)
FROM customer
UNION ALL
SELECT 'unique_c_custkey',
       CAST(count(DISTINCT c_custkey) AS BIGINT),
       CAST(count(*) AS BIGINT),
       count(DISTINCT c_custkey) = count(*)
FROM customer
UNION ALL
SELECT 'fk_orders_custkey',
       CAST(count(*) - SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(*) AS BIGINT),
       SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) = 0
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'range_l_discount',
       CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(*) AS BIGINT),
       SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END)
         = count(*)
FROM lineitem
UNION ALL
SELECT 'min_rows_orders',
       CAST(count(*) AS BIGINT), CAST(1000 AS BIGINT),
       count(*) >= 1000
FROM orders
UNION ALL
SELECT 'freshness_o_orderdate',
       CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
                THEN 1 ELSE 0 END) AS BIGINT),
       CAST(1 AS BIGINT),
       SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
           THEN 1 ELSE 0 END) >= 1
FROM orders
ORDER BY rule
""",
)
def q_dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ /
    great-expectations shape): a fixed rule list — completeness,
    domain membership, key uniqueness, FK coverage, value range,
    minimum volume, freshness — evaluated in one report, one row per
    rule with the exact integer evidence (`metric_num` / `metric_den`)
    and the boolean verdict. Ratio rules pass when num == den;
    threshold rules (min_rows, freshness) pass when num >= den, with
    `metric_den` carrying the threshold. Every metric is a count, so
    the report is engine-exact — no float tolerance anywhere.

    Scale shape: each rule is a single aggregate over one scan (the
    per-table rules against the same table share the scan via
    Catalyst's exchange reuse), the FK rule is a left join counted on
    the null side — 8-byte keys, map-side combinable — and the output
    is bounded by the RULE COUNT, not the data. At 100 TB this is the
    per-load gate you run before publishing a partition; a production
    deploy would parameterize the rule list, not the plan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

    def row(name, num, den, passed):
        return F.struct(
            F.lit(name).alias("rule"),
            num.cast("long").alias("metric_num"),
            den.cast("long").alias("metric_den"),
            passed.alias("passed"),
        )

    cust = c.agg(
        F.count("c_name").alias("nn"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("c_mktsegment").isin(segs), 1).otherwise(0)).alias(
            "nd"
        ),
        F.count_distinct("c_custkey").alias("nu"),
    ).select(
        F.explode(
            F.array(
                row(
                    "completeness_c_name",
                    F.col("nn"),
                    F.col("n"),
                    F.col("nn") == F.col("n"),
                ),
                row(
                    "domain_c_mktsegment",
                    F.col("nd"),
                    F.col("n"),
                    F.col("nd") == F.col("n"),
                ),
                row(
                    "unique_c_custkey",
                    F.col("nu"),
                    F.col("n"),
                    F.col("nu") == F.col("n"),
                ),
            )
        ).alias("r")
    )
    fk = (
        o.join(c.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "orphans"
            ),
        )
        .select(
            row(
                "fk_orders_custkey",
                F.col("n") - F.col("orphans"),
                F.col("n"),
                F.col("orphans") == 0,
            ).alias("r")
        )
    )
    rng = li.agg(
        F.sum(
            F.when(F.col("l_discount").between(0, 0.1), 1).otherwise(0)
        ).alias("ok"),
        F.count("*").alias("n"),
    ).select(
        row(
            "range_l_discount", F.col("ok"), F.col("n"), F.col("ok") == F.col("n")
        ).alias("r")
    )
    vol = o.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"), 1)
            .otherwise(0)
        ).alias("fresh"),
    ).select(
        F.explode(
            F.array(
                row("min_rows_orders", F.col("n"), F.lit(1000), F.col("n") >= 1000),
                row(
                    "freshness_o_orderdate",
                    F.col("fresh"),
                    F.lit(1),
                    F.col("fresh") >= 1,
                ),
            )
        ).alias("r")
    )
    return (
        cust.unionByName(fk).unionByName(rng).unionByName(vol)
        .select("r.rule", "r.metric_num", "r.metric_den", "r.passed")
        .orderBy("rule")
    )


@query(
    "q_basket_triples_apriori",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
ms AS (
  SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT o) AS BIGINT) * 35 // 10000 AS minsup
  FROM ob
),
tri AS (
  SELECT a.b AS brand_a, c.b AS brand_b, e.b AS brand_c,
         CAST(count(*) AS BIGINT) AS n_abc
  FROM ob a
  JOIN ob c ON a.o = c.o AND a.b < c.b
  JOIN ob e ON a.o = e.o AND c.b < e.b
  GROUP BY 1, 2, 3
)
SELECT brand_a, brand_b, brand_c, n_abc,
       n_abc * 1000000 // ms.n_orders AS support_ppm
FROM tri, ms
WHERE n_abc >= ms.minsup
ORDER BY brand_a, brand_b, brand_c
""",
)
def q_basket_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-triple mining with the Apriori candidate-join step —
    the level-3 pass of association-rule mining: frequent pairs L2
    self-join on a shared prefix ((a,b)+(a,c) → candidate (a,b,c)),
    candidates survive only if ALL their sub-pairs are frequent
    (downward closure), and only then does the data get counted
    against the candidate list. Support threshold is RELATIVE
    (0.35% of baskets, floored to an exact integer both engines
    compute identically), so the query is meaningful at every fixture
    density and at 100 TB alike.

    Scale shape: baskets distinct to (order, brand) first; L2 and the
    candidate set C3 are bounded by the ITEM vocabulary, not the data,
    so they broadcast; the 3-way within-basket self-join generates
    combinations per basket (∝ basket³ of FREQUENT items only — each
    leg is semi-joined against L1 and the first two legs against L2
    before the third fans in, which is exactly Apriori's pruning
    payoff), and the count shuffles on the candidate triple. The
    oracle derives the same result with no Apriori at all — a direct
    exhaustive triple count — so the hash proves the pruning loses
    nothing."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    ob = scoped_persist(ob)
    ms = ob.agg(
        F.count_distinct("o").alias("n_orders"),
        F.expr("count(DISTINCT o) * 35 DIV 10000").alias("minsup"),
    )
    # L1: frequent items
    l1 = (
        ob.groupBy("b")
        .agg(F.count("*").alias("nb"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("nb") >= F.col("minsup"))
        .select("b")
    )
    obf = ob.join(F.broadcast(l1), "b", "left_semi")
    # L2: frequent pairs of frequent items
    a1, a2 = obf.alias("a1"), obf.alias("a2")
    l2 = (
        a1.join(
            a2,
            (F.col("a1.o") == F.col("a2.o")) & (F.col("a1.b") < F.col("a2.b")),
        )
        .groupBy(F.col("a1.b").alias("x"), F.col("a2.b").alias("y"))
        .agg(F.count("*").alias("nxy"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("nxy") >= F.col("minsup"))
        .select("x", "y")
    )
    l2 = scoped_persist(l2)
    # C3: Apriori candidate join — shared prefix + downward closure
    p1, p2 = l2.alias("p1"), l2.alias("p2")
    c3 = (
        p1.join(
            p2,
            (F.col("p1.x") == F.col("p2.x")) & (F.col("p1.y") < F.col("p2.y")),
        )
        .select(
            F.col("p1.x").alias("ca"),
            F.col("p1.y").alias("cb"),
            F.col("p2.y").alias("cc"),
        )
        .join(
            l2,
            (F.col("cb") == F.col("x")) & (F.col("cc") == F.col("y")),
            "left_semi",
        )
    )
    # count the data against the candidate list: first two legs are
    # L2-pruned before the third fans in
    t1, t2, t3 = obf.alias("t1"), obf.alias("t2"), obf.alias("t3")
    pair_leg = (
        t1.join(
            t2,
            (F.col("t1.o") == F.col("t2.o")) & (F.col("t1.b") < F.col("t2.b")),
        )
        .join(
            F.broadcast(l2),
            (F.col("t1.b") == F.col("x")) & (F.col("t2.b") == F.col("y")),
            "left_semi",
        )
    )
    counted = (
        pair_leg.join(
            t3,
            (F.col("t1.o") == F.col("t3.o")) & (F.col("t2.b") < F.col("t3.b")),
        )
        .join(
            F.broadcast(c3),
            (F.col("t1.b") == F.col("ca"))
            & (F.col("t2.b") == F.col("cb"))
            & (F.col("t3.b") == F.col("cc")),
            "left_semi",
        )
        .groupBy(
            F.col("t1.b").alias("brand_a"),
            F.col("t2.b").alias("brand_b"),
            F.col("t3.b").alias("brand_c"),
        )
        .agg(F.count("*").alias("n_abc"))
    )
    return (
        counted.crossJoin(F.broadcast(ms))
        .filter(F.col("n_abc") >= F.col("minsup"))
        .select(
            "brand_a",
            "brand_b",
            "brand_c",
            F.col("n_abc").cast("long").alias("n_abc"),
            F.expr("n_abc * 1000000 DIV n_orders").cast("long").alias(
                "support_ppm"
            ),
        )
        .orderBy("brand_a", "brand_b", "brand_c")
    )


@query(
    "q_sla_ship_latency",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, l_shipdate) AS d
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN d <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_30d,
       CAST(SUM(CASE WHEN d <= 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_60d,
       CAST(SUM(CASE WHEN d <= 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS within_90d,
       CAST(SUM(CASE WHEN d <= 30 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS sla30_ppm,
       CAST(max(d) AS BIGINT) AS worst_days
FROM lat
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_sla_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA attainment: order→ship latency banded at
    30/60/90 days per order priority — the operations report behind
    every 'are URGENT orders actually faster' review, with the
    attainment ratio as exact integer ppm and the worst-case straggler
    alongside. Day arithmetic runs on the DATE boundary both engines
    share (timestamp-typed fixture columns truncate identically).

    Scale shape: one fact join keyed on the order (orders side is the
    smaller input — at 100 TB this is the bucketed fact-fact join the
    TPC-H suite plan-locks), one 5-group aggregate, map-side
    combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("d"),
    )
    c30 = F.sum(F.when(F.col("d") <= 30, 1).otherwise(0))
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            c30.cast("long").alias("within_30d"),
            F.sum(F.when(F.col("d") <= 60, 1).otherwise(0))
            .cast("long")
            .alias("within_60d"),
            F.sum(F.when(F.col("d") <= 90, 1).otherwise(0))
            .cast("long")
            .alias("within_90d"),
            F.expr(
                "CAST(SUM(CASE WHEN d <= 30 THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("sla30_ppm"),
            F.max("d").cast("long").alias("worst_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_merge_upsert",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
         o_orderdate
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01'
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
),
delta AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
         o_orderdate
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
  QUALIFY row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
),
merged AS (
  SELECT COALESCE(d.o_custkey, b.o_custkey) AS k,
         COALESCE(d.price_c, b.price_c) AS price_c,
         CASE WHEN b.o_custkey IS NULL THEN 'insert'
              WHEN d.o_custkey IS NULL THEN 'unchanged'
              ELSE 'update' END AS action
  FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
)
SELECT action,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(k) AS BIGINT) AS key_checksum
FROM merged GROUP BY action ORDER BY action
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-1 MERGE (upsert) semantics: apply a late batch of
    per-customer latest-order states onto a base snapshot, classifying
    every output key as insert (new key), update (key replaced) or
    unchanged — the change-data-capture apply step every lakehouse
    runs (Delta/Iceberg MERGE INTO re-expressed as full-outer +
    classify). The emitted per-action counts + exact checksums pin the
    merged state without emitting every row.

    Scale shape: both sides reduce to latest-per-key via one
    partitioned window each (shuffle on the merge key — exactly the
    partitioning MERGE needs), then ONE co-keyed full-outer join; at
    100 TB both windows and the join share a single hash partitioning
    on o_custkey, so AQE plans one exchange per side and the classify
    + rollup is map-side. The delta side is dwarfed by base in real
    CDC, making it broadcast-able — here both stay shuffled to
    exercise the general plan."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def latest(df):
        return (
            df.select(
                "o_custkey",
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("price_c"),
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    base = latest(o.filter(F.col("o_orderdate") < cut))
    delta = latest(o.filter(F.col("o_orderdate") >= cut))
    merged = base.alias("b").join(
        delta.alias("d"),
        F.col("b.o_custkey") == F.col("d.o_custkey"),
        "full_outer",
    ).select(
        F.coalesce(F.col("d.o_custkey"), F.col("b.o_custkey")).alias("k"),
        F.coalesce(F.col("d.price_c"), F.col("b.price_c")).alias("price_c"),
        F.when(F.col("b.o_custkey").isNull(), "insert")
        .when(F.col("d.o_custkey").isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("price_c").cast("long").alias("sum_price_c"),
            F.sum("k").cast("long").alias("key_checksum"),
        )
        .orderBy("action")
    )


@query(
    "q_ivm_merge_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_price_c,
       min(l_shipdate) AS min_ship,
       max(l_shipdate) AS max_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_ivm_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by mergeable partial aggregates:
    the 'materialized' slice (shipped before 1998-01-01) and the
    'delta' slice are aggregated INDEPENDENTLY, then merged by
    re-aggregating the partials — sum-of-sums, count-as-sum,
    min-of-mins — and the oracle is the FULL recompute, proving
    merge(partial(A), partial(B)) ≡ total(A∪B). This is the algebraic
    property that makes streaming/materialized aggregates possible at
    all (every accumulator here is a commutative monoid; a
    non-mergeable stat like an exact median would force the recompute).

    Scale shape: in production the materialized side is a tiny stored
    summary (|groups| rows) read back instead of recomputed — the
    delta aggregation is the only fact-scan work, which is the entire
    point of IVM at 100 TB: cost tracks the CHANGE, not the table.
    Both partials are map-side-combinable single-shuffle aggregates;
    the merge re-agg runs over 2×|groups| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("sum_price_c"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )

    mat = partial(li.filter(F.col("l_shipdate") < cut))
    delta = partial(li.filter(F.col("l_shipdate") >= cut))
    return (
        mat.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_qty").cast("long").alias("sum_qty"),
            F.sum("sum_price_c").cast("long").alias("sum_price_c"),
            F.min("min_ship").alias("min_ship"),
            F.max("max_ship").alias("max_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_alloc_water_filling",
    oracle="""
WITH dem AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) // 100 AS d
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, d,
         CAST(row_number() OVER (ORDER BY d, source) AS BIGINT) AS rn,
         CAST(SUM(d) OVER (ORDER BY d, source) AS BIGINT) AS pfx,
         CAST(count(*) OVER () AS BIGINT) AS n,
         (CAST(SUM(d) OVER () AS BIGINT) * 9) // 10 AS b
  FROM dem
),
base AS (
  SELECT min(n) AS n, min(b) AS b FROM ranked
),
kstar AS (
  SELECT COALESCE((SELECT max(rn) FROM ranked
                   WHERE pfx + (n - rn) * d <= b), 0) AS k,
         base.n, base.b
  FROM base
),
params AS (
  SELECT kstar.k, kstar.n, kstar.b,
         COALESCE((SELECT pfx FROM ranked WHERE rn = kstar.k), 0) AS pk
  FROM kstar
),
lvl AS (
  SELECT k, n, b, pk,
         CASE WHEN n > k THEN (b - pk) // (n - k) ELSE 0 END AS t,
         CASE WHEN n > k THEN (b - pk) % (n - k) ELSE 0 END AS r
  FROM params
)
SELECT ranked.source, ranked.d AS demand,
       CASE WHEN ranked.rn <= lvl.k THEN ranked.d
            ELSE lvl.t + (CASE WHEN ranked.rn - lvl.k <= lvl.r
                               THEN 1 ELSE 0 END) END AS alloc,
       (ranked.rn > lvl.k) AS capped,
       lvl.b AS budget
FROM ranked, lvl
ORDER BY ranked.source
""",
)
def q_alloc_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of a sampling budget
    across sources: every source gets min(demand, t) docs where the
    water level t exhausts the budget — THE fair-share algorithm of
    schedulers and of training-data mixture capping (small sources
    keep everything, big sources cap at a common level; contrast
    q_alloc_largest_remainder, which is proportional, and
    q_sample_cap_per_source, which fixes the cap a priori — here the
    cap is SOLVED FOR). Closed form over the demand-sorted prefix:
    k* = the last rank whose full demand fits under a feasible level,
    then t = (B−P_k*) div (n−k*) with the integer remainder spread
    one-each to the first capped ranks — every quantity an exact
    BIGINT, deterministically tie-broken by (demand, source).

    Scale shape: demands are one map-side-combinable rollup; the
    ranking/prefix windows run over the |sources|-bounded table and
    the 1-row solved parameters broadcast back — the same
    driver-free closed-form shape as q_alloc_largest_remainder (no
    iterative bisection, no collect)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dem = docs.groupBy("source").agg(
        F.expr("CAST(SUM(n_chars) AS BIGINT) DIV 100").alias("d")
    )
    wo = Window.orderBy("d", "source")
    wall = Window.partitionBy()
    ranked = dem.select(
        "source",
        "d",
        F.row_number().over(wo).cast("long").alias("rn"),
        F.sum("d").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("pfx"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.expr("(CAST(SUM(d) OVER () AS BIGINT) * 9) DIV 10").alias("b"),
    )
    ranked = scoped_persist(ranked)
    kstar = ranked.filter(
        F.col("pfx") + (F.col("n") - F.col("rn")) * F.col("d")
        <= F.col("b")
    ).agg(
        F.coalesce(F.max("rn"), F.lit(0)).alias("k"),
    )
    base = ranked.agg(
        F.min("n").alias("n"), F.min("b").alias("b")
    )
    kstar = kstar.crossJoin(base)
    pk = (
        kstar.join(
            ranked.select(F.col("rn").alias("k"), F.col("pfx")),
            "k",
            "left",
        )
        .select(
            "k",
            "n",
            "b",
            F.coalesce(F.col("pfx"), F.lit(0)).alias("pk"),
        )
    )
    lvl = pk.select(
        "k",
        "n",
        "b",
        F.when(
            F.col("n") > F.col("k"),
            F.expr("(b - pk) DIV (n - k)"),
        )
        .otherwise(0)
        .alias("t"),
        F.when(
            F.col("n") > F.col("k"), F.expr("(b - pk) % (n - k)")
        )
        .otherwise(0)
        .alias("r"),
    )
    lvl = lvl.select(
        F.col("k").alias("kk"),
        F.col("b").alias("bb"),
        "t",
        "r",
    )
    return (
        ranked.select("source", "d", "rn")
        .crossJoin(F.broadcast(lvl))
        .select(
            "source",
            F.col("d").alias("demand"),
            F.when(F.col("rn") <= F.col("kk"), F.col("d"))
            .otherwise(
                F.col("t")
                + F.when(
                    F.col("rn") - F.col("kk") <= F.col("r"), 1
                ).otherwise(0)
            )
            .alias("alloc"),
            (F.col("rn") > F.col("kk")).alias("capped"),
            F.col("bb").alias("budget"),
        )
        .orderBy("source")
    )
