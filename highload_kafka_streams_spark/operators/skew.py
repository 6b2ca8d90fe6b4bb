"""Skew-mitigation operators (SURVEY.md §4 "100 TB posture").

AQE's ``OptimizeSkewedJoin`` handles sort-merge-join skew at runtime,
but two patterns still need explicit engineering at 100 TB, and both are
semantically transparent — so, unusually for infrastructure, they are
oracle-checkable:

- **salted two-phase aggregation**: a groupBy whose key distribution is
  dominated by a few hot keys puts whole hot keys on single reducers.
  Salting splits each key into ``n_salt`` sub-keys (partial agg), then
  re-aggregates the partials — the hot key's work spreads over
  ``n_salt`` reducers and the second phase touches only
  |keys|×n_salt rows. (Spark's map-side partial agg already does
  per-TASK combining; salting additionally splits a hot key's REDUCER,
  which partial agg cannot.)
- **salted join**: replicate the small side ``n_salt``× (explode over
  the salt domain), deterministically salt the fact side from a stable
  column hash, join on (key, salt). The hot key's fact rows land on
  ``n_salt`` different reducers instead of one.

Salts derive from ``xxhash64`` of stable columns — never ``rand()`` —
so retries/speculative tasks see identical data (a correctness
requirement under Spark's recompute-on-failure model, not a style
preference).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.compat import dsum, dsum_sql
from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist


def salted_agg_sum(
    df: DataFrame,
    key: str,
    value: Column,
    out: str,
    salt_from: str,
    n_salt: int = 8,
) -> DataFrame:
    """Two-phase salted sum: groupBy(key, salt) partials → groupBy(key).

    ``value`` must be a fixed-point long (see ``compat.fixed``) so the
    two-phase re-sum is exact; the caller divides at the end.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salt))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_part"), F.count("*").alias("_n"))
    )
    return partial.groupBy(key).agg(
        F.sum("_part").alias(out), F.sum("_n").alias("n_rows")
    )


@query(
    "q_skew_salted_agg",
    oracle=f"""
SELECT event_type,
       {dsum_sql("value", "total_value")},
       count(*) AS n_rows
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation over `events.event_type` — a 5-value key domain
    is exactly the shape where every reducer-split helps. Result is
    IDENTICAL to the plain groupBy (the oracle runs the plain form)."""
    ev = load_table(spark, sf_dir, "events")
    fixed_val = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    agg = salted_agg_sum(
        ev, "event_type", fixed_val, "_fsum", salt_from="event_id", n_salt=8
    )
    return (
        agg.select(
            "event_type",
            (F.col("_fsum") / 10000.0).alias("total_value"),
            "n_rows",
        )
        .orderBy("event_type")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_from: str,
    n_salt: int = 8,
) -> DataFrame:
    """Equi-join with the dim side replicated n_salt× and the fact side
    deterministically salted — spreads each hot join key over n_salt
    reducers. Inner-join semantics are unchanged."""
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salt))
    )
    replicated_dim = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salt)])),
    )
    return salted_fact.join(
        replicated_dim,
        (F.col(fact_key) == F.col(dim_key))
        & (salted_fact["_salt"] == replicated_dim["_salt"]),
    ).drop("_salt")


@query(
    "q_skew_salted_join",
    oracle=f"""
SELECT n_name,
       count(*) AS n_customers,
       {dsum_sql("c_acctbal", "total_acctbal")}
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted customer⋈nation join (25-value key = classic hot-key shape
    when one nation dominates), then aggregate — identical rows to the
    plain join the oracle runs. At 100 TB you'd salt only the keys AQE
    reports as skewed; here every key is salted to prove semantics."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = salted_join(
        cust, nation, "c_nationkey", "n_nationkey",
        salt_from="c_custkey", n_salt=8,
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
        .orderBy("n_name")
    )


BLOOM_BITS = 1 << 16  # 64 Kbit = 1024 longs = 8 KB broadcast payload
BLOOM_K = 3


def _bloom_positions(key_sql: str) -> list[tuple[Column, Column]]:
    """K (word-index, bit-mask) pairs for a key column — xxhash64 with K
    seeds. ``key_sql`` is the column name (SQL-expression form, because
    ``shiftleft``'s DataFrame API takes only literal shift amounts —
    the SQL function accepts a column expression)."""
    out = []
    for seed in range(BLOOM_K):
        pos = f"pmod(xxhash64({key_sql}, {seed}), {BLOOM_BITS})"
        out.append(
            (
                F.expr(f"CAST({pos} / 64 AS INT)"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))"
                ),
            )
        )
    return out


def bloom_semi_join(
    fact: DataFrame, dim_keys: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Left-semi join with a broadcast Bloom-filter prefilter — the
    explicit form of the runtime row-level filtering a production
    engine injects for selective dim joins at scale.

    Build: the dim key set hashes into a 64 Kbit Bloom bitmap,
    assembled DISTRIBUTEDLY (explode K positions -> groupBy word index
    -> bit_or) and collapsed to a single-row map<int,long> — never a
    driver-side loop over keys. Probe: each fact row tests its K bit
    positions against the broadcast map in one whole-stage-codegen
    boolean expression; only surviving rows (true matches + the
    bitmap's false-positive residue) reach the exact broadcast semi
    join that makes the result precise.

    Semantics are EXACTLY left-semi (the Bloom filter admits false
    positives, never false negatives, and the final semi join removes
    them), so the operator is oracle-checkable. At 100 TB the payoff
    is that the prefilter runs inside the fact scan — rows drop before
    any shuffle or join hash table, at the cost of an 8 KB broadcast."""
    dim_keys = dim_keys.select(F.col(dim_key).alias("_bk")).distinct()
    pos_cols = []
    for w, b in _bloom_positions("_bk"):
        pos_cols.append(F.struct(w.alias("w"), b.alias("bit")))
    words = (
        dim_keys.select(F.explode(F.array(*pos_cols)).alias("p"))
        .groupBy(F.col("p.w").alias("w"))
        .agg(F.bit_or(F.col("p.bit")).alias("word"))
    )
    bitmap = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("w"), F.col("word")))
        ).alias("_bloom")
    )
    probe = None
    for w, b in _bloom_positions(fact_key):
        hit = (
            F.coalesce(F.element_at(F.col("_bloom"), w), F.lit(0).cast("long"))
            .bitwiseAND(b)
            != 0
        )
        probe = hit if probe is None else (probe & hit)
    prefiltered = (
        fact.crossJoin(F.broadcast(bitmap)).filter(probe).drop("_bloom")
    )
    return prefiltered.join(
        F.broadcast(dim_keys),
        F.col(fact_key) == F.col("_bk"),
        "left_semi",
    )


@query(
    "q_join_bloom_prefilter",
    oracle=f"""
SELECT l_suppkey,
       count(*) AS n_lines,
       {dsum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
GROUP BY l_suppkey
ORDER BY l_suppkey
""",
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup over only the fact rows belonging to a selective
    supplier set — the fact side prefiltered by a broadcast Bloom
    bitmap before the exact semi join (bloom_semi_join above). The
    oracle is the plain IN-subquery: bit-identical results prove the
    Bloom path is a pure physical optimization with zero semantic
    drift."""
    li = load_table(spark, sf_dir, "lineitem")
    rich = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 9000
    )
    return (
        bloom_semi_join(li, rich.select("s_suppkey"), "l_suppkey", "s_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("l_suppkey")
    )


@query(
    "q_shuffle_skew_audit",
    oracle="""
WITH freq AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM freq
),
ranked AS (
  SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rk,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, k) AS BIGINT) AS cum
  FROM freq
)
SELECT ranked.rk, ranked.k, ranked.cnt,
       (ranked.cnt * 1000000) // tot.total AS share_ppm,
       (ranked.cum * 1000000) // tot.total AS cum_share_ppm,
       (ranked.cnt * tot.n_keys * 1000) // tot.total AS x1000_vs_mean,
       tot.n_keys, tot.total
FROM ranked, tot
WHERE ranked.rk <= 10
ORDER BY ranked.rk
""",
)
def q_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew audit over the orders→customer key: the
    10 heaviest keys with their exact row share (ppm), cumulative
    share, and hotness-vs-mean multiple — the diagnosis report that
    decides WHETHER the salted plans in this module (salted_agg_sum /
    salted_join) are worth their second shuffle, and what
    ``n_salt`` should be (≈ the x1000_vs_mean multiple / 1000). All
    ratios are exact integer floor-divisions (nonnegative, so DuckDB's
    ``//`` and Spark's ``DIV`` agree bit-for-bit); no doubles anywhere.

    Scale shape: the frequency rollup is the map-side-combinable
    shuffle every skew probe costs; the top-10 cut is a
    TakeOrderedAndProject (per-task heap); the cumulative window runs
    over ONLY the 10 surviving rows after a domain-bounded rank — at
    100 TB a production audit samples the fact scan first, which
    changes the counts but not this plan."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    freq = scoped_persist(freq)
    tot = freq.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = freq.orderBy(F.desc("cnt"), F.asc("k")).limit(10)
    w = Window.orderBy(F.desc("cnt"), F.asc("k"))
    ranked = top.select(
        F.row_number().over(w).alias("rk"),
        "k",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "k",
            "cnt",
            F.expr("(cnt * 1000000) DIV total").alias("share_ppm"),
            F.expr("(cum * 1000000) DIV total").alias("cum_share_ppm"),
            F.expr("(cnt * n_keys * 1000) DIV total").alias("x1000_vs_mean"),
            "n_keys",
            "total",
        )
        .orderBy("rk")
    )
