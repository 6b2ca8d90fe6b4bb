"""Stateless record operators (SURVEY.md §2.2).

Kafka Streams surface: ``KStream#filter/filterNot/map/mapValues/flatMap/
flatMapValues/selectKey/split(branch)/merge/peek``.

Spark-first notes: all of these are narrow (no shuffle) projections /
filters / generators — Catalyst fuses them into one WholeStageCodegen
stage and pushes filters into the parquet scan, so a chain of these
costs one pass over the data regardless of length. ``select_key`` only
matters at the *next* stateful op (it changes the shuffle key), exactly
like KS's repartition-on-rekey.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query

# library forms (used by the DSL facade in streaming.topology) -------------


def filter_(df: DataFrame, pred: Column) -> DataFrame:
    """KS KStream#filter."""
    return df.filter(pred)


def filter_not(df: DataFrame, pred: Column) -> DataFrame:
    """KS KStream#filterNot."""
    return df.filter(~pred)


def map_values(df: DataFrame, **cols: Column) -> DataFrame:
    """KS KStream#mapValues — add/replace value columns, keys untouched."""
    return df.withColumns(dict(cols))


def flat_map_values(df: DataFrame, array_col: Column, out_name: str) -> DataFrame:
    """KS KStream#flatMapValues — one record per array element."""
    return df.withColumn(out_name, F.explode(array_col))


def select_key(df: DataFrame, key: Column, key_name: str = "key") -> DataFrame:
    """KS KStream#selectKey — re-key; shuffle deferred to next stateful op."""
    return df.withColumn(key_name, key)


def branch(df: DataFrame, **preds: Column) -> dict[str, DataFrame]:
    """KS KStream#split/Branched — route to N streams by first-match predicate.

    A query consuming several branches in one job should
    ``registry.scoped_persist`` the parent, mirroring KS's single-pass
    routing.
    """
    out: dict[str, DataFrame] = {}
    taken: Column | None = None
    for name, p in preds.items():
        eff = p if taken is None else (p & ~taken)
        out[name] = df.filter(eff)
        taken = p if taken is None else (taken | p)
    return out


def merge(*dfs: DataFrame) -> DataFrame:
    """KS KStream#merge — order-unspecified union of same-schema streams."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# oracle-checked demonstrations --------------------------------------------


@query(
    "q_filter",
    oracle="""
SELECT event_id, user_id, value
FROM events
WHERE event_type = 'purchase' AND value > 100.0
ORDER BY event_id
""",
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        filter_(ev, (F.col("event_type") == "purchase") & (F.col("value") > 100.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    )


@query(
    "q_filter_not",
    oracle="""
SELECT event_id, event_type
FROM events
WHERE NOT (event_type = 'view' OR value < 10.0)
ORDER BY event_id
""",
)
def q_filter_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        filter_not(ev, (F.col("event_type") == "view") | (F.col("value") < 10.0))
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


@query(
    "q_map",
    oracle="""
SELECT o_orderkey AS order_key,
       upper(o_orderstatus) AS status,
       CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_band
FROM orders
ORDER BY order_key
""",
)
def q_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#map — rewrite key and value in one projection."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.upper("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("price_band"),
    ).orderBy("order_key")


@query(
    "q_map_values",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_quantity * l_tax AS tax_units
FROM lineitem
WHERE l_linenumber = 1
ORDER BY l_orderkey, l_linenumber
""",
)
def q_map_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#mapValues — value transform, key columns untouched.

    Per-row double products are IEEE-deterministic, so these compare
    exactly without the fixed-point treatment aggregates need.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    out = map_values(
        li,
        net_price=F.col("l_extendedprice") * (1 - F.col("l_discount")),
        tax_units=F.col("l_quantity") * F.col("l_tax"),
    )
    return out.select(
        "l_orderkey", "l_linenumber", "net_price", "tax_units"
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q_flat_map",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
WHERE doc_id < 100
ORDER BY doc_id, token
""",
)
def q_flat_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#flatMapValues — 1→N records via explode (generator, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = flat_map_values(docs, F.split(F.col("text"), " "), "token")
    return out.select("doc_id", "token").orderBy("doc_id", "token")


@query(
    "q_select_key",
    oracle="""
SELECT user_id % 10 AS shard, count(*) AS n,
       SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS total_value
FROM events
GROUP BY user_id % 10
ORDER BY shard
""",
)
def q_select_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#selectKey + groupByKey — re-key then aggregate (forces the
    repartition KS would create an internal topic for; in Spark it is the
    Exchange before the final HashAggregate)."""
    from highload_kafka_streams_spark.compat import dsum

    ev = load_table(spark, sf_dir, "events")
    rekeyed = select_key(ev, F.col("user_id") % 10, "shard")
    return (
        rekeyed.groupBy("shard")
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
        .orderBy("shard")
    )


@query(
    "q_branch",
    oracle="""
SELECT branch, count(*) AS n
FROM (
  SELECT CASE WHEN event_type = 'error' THEN 'errors'
              WHEN value >= 100.0 THEN 'big'
              ELSE 'rest' END AS branch
  FROM events
) t
GROUP BY branch
ORDER BY branch
""",
)
def q_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#split — first-match routing; branches re-merged with tags so
    the result is one comparable relation."""
    ev = load_table(spark, sf_dir, "events")
    branches = branch(
        ev,
        errors=F.col("event_type") == "error",
        big=F.col("value") >= 100.0,
        rest=F.lit(True),
    )
    tagged = merge(
        *[d.select(F.lit(name).alias("branch")) for name, d in branches.items()]
    )
    return tagged.groupBy("branch").agg(F.count("*").alias("n")).orderBy("branch")


@query(
    "q_merge",
    oracle="""
SELECT event_id, event_type
FROM events
WHERE event_type = 'signup' OR (event_type = 'purchase' AND value > 200.0)
ORDER BY event_id
""",
)
def q_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#merge — union of two filtered streams."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup")
    b = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 200.0))
    return merge(a, b).select("event_id", "event_type").orderBy("event_id")
