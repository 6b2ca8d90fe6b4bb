"""File-format sources/sinks beyond parquet (SURVEY.md §2.1): CSV, JSON,
ORC — each proved by a write→read round-trip whose result is
oracle-compared against the original parquet data, so the check covers
both the sink (serialization) and the source (schema-declared parse).

Schemas are DECLARED on read, never inferred (inference is an extra full
scan of the dataset before the real job — a non-starter at 100 TB, and
nondeterministic under sampling). Round-trip files land in a
git-ignored ``.scratch/`` dir inside the repo.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from highload_kafka_streams_spark.compat import dsum, dsum_sql
from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)

_RT_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
    ]
)

_RT_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       {dsum_sql("o_totalprice", "total_price")}
FROM orders
WHERE o_orderkey < 5000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Write an orders slice as ``fmt``, read it back with a declared
    schema, aggregate — matching the oracle run on the source parquet."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = os.path.join(
        _SCRATCH, f"{fmt}_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    writer = src.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)

    reader = spark.read.format(fmt).schema(_RT_SCHEMA)
    if fmt == "csv":
        reader = reader.option("header", "true")
    back = reader.load(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query("q_source_csv_roundtrip", oracle=_RT_ORACLE)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source: text serialization must round-trip doubles
    exactly (Spark writes shortest-round-trip decimal forms)."""
    return _roundtrip(spark, sf_dir, "csv")


@query("q_source_json_roundtrip", oracle=_RT_ORACLE)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source with declared schema on read."""
    return _roundtrip(spark, sf_dir, "json")


@query("q_source_orc_roundtrip", oracle=_RT_ORACLE)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source — the second columnar format, binary-exact."""
    return _roundtrip(spark, sf_dir, "orc")


@query(
    "q_source_partitioned_read",
    oracle=f"""
SELECT date_trunc('day', ts) AS day,
       count(*) AS n,
       {dsum_sql("value", "total_value")}
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY day
""",
)
def q_source_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned dataset round-trip with PARTITION PRUNING: events
    are written `partitionBy(event_type)`, and the read filters one
    partition value — the scan must list and read exactly 1 of 5
    partition directories (PartitionFilters in the plan; asserted in
    tests). This is the layout/pruning contract a 100 TB event lake is
    built on: the dominant predicate becomes a directory, and queries
    for one type never touch the bytes of the others. The checked
    result round-trips through the partitioned copy, proving
    partition-column recovery (`event_type` leaves the files and comes
    back from directory names) as well as the pruned aggregate."""
    path = os.path.join(_SCRATCH, f"events_by_type_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return (
        back.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .orderBy("day")
    )


@query(
    "q_source_schema_evolution",
    oracle=f"""
SELECT CASE WHEN o_orderkey < 2500 THEN NULL ELSE o_orderstatus END
         AS o_orderstatus,
       count(*) AS n_orders,
       {dsum_sql("o_totalprice", "total_price")}
FROM orders
WHERE o_orderkey < 5000
GROUP BY 1
ORDER BY o_orderstatus NULLS FIRST
""",
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet dataset: an old batch written
    WITHOUT `o_orderstatus` and a new batch written WITH it land in the
    same table directory; `mergeSchema` reads the union schema and the
    old batch's missing column surfaces as NULLs — the append-only
    lake-evolution contract (add a column, never rewrite history) that
    a 100 TB table depends on. The aggregate groups by the evolved
    column, so the NULL row IS the old batch and the value-hash proves
    column back-fill semantics, not just readability.

    Scale note: mergeSchema unions footers at planning time — cost ∝
    file count, not data; production tables pin the merged schema in a
    catalog and this query is the migration-time check."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = os.path.join(
        _SCRATCH,
        f"schema_evo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    (
        src.filter(F.col("o_orderkey") < 2500)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "batch=old"))
    )
    (
        src.filter(F.col("o_orderkey") >= 2500)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "batch=new"))
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=old"), os.path.join(path, "batch=new")
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_first())
    )


@query(
    "q_source_csv_quarantine",
    oracle="""
SELECT CAST(count(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END) AS BIGINT)
         AS n_good,
       CAST(count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS BIGINT)
         AS n_quarantined,
       CAST(SUM(CASE WHEN o_orderkey % 7 <> 0
                     THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                END) AS BIGINT) AS good_total_cents
FROM orders
""",
)
def q_source_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with a QUARANTINE lane: serialize the
    orders table to CSV lines, deterministically corrupting every
    o_orderkey ≡ 0 (mod 7) row (the price field becomes non-numeric —
    the classic upstream-export glitch), then read back under
    mode=PERMISSIVE with columnNameOfCorruptRecord so malformed rows
    land in the corrupt-record column instead of failing the job —
    THE dirty-data contract of production lake ingestion (the §2.1
    source row covers clean files; this covers the files you actually
    receive).  Emits good/quarantined counts and the parsed-good
    total, all of which the oracle derives from the clean parquet and
    the corruption rule alone — proving the corrupt rows were
    quarantined exactly, never dropped or silently null-coerced.

    Scale shape: the CSV write/read are full-scan streaming passes
    (per-partition serialization, no shuffle); the verdict is one
    1-row aggregate.  PERMISSIVE parsing is per-row and pipelined —
    at 100 TB the quarantine lane costs nothing beyond the scan it
    shares with the parse."""
    src = load_table(spark, sf_dir, "orders")
    lines = src.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.concat(F.lit("X"), F.col("o_totalprice").cast("string")),
            ).otherwise(F.col("o_totalprice").cast("string")),
        ).alias("value")
    )
    path = os.path.join(
        _SCRATCH,
        f"orders_dirty_csv_{os.path.basename(sf_dir.rstrip('/'))}",
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
        .csv(path)
    )
    # caching the parsed frame before referencing _corrupt alongside
    # data columns is the documented Spark contract for corrupt-record
    # queries (SPARK-21610: the pushed-down internal parser cannot
    # prove corrupt-only projections otherwise)
    back = scoped_persist(back)
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1))
        .cast("long")
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1))
        .cast("long")
        .alias("n_quarantined"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"),
            )
        )
        .cast("long")
        .alias("good_total_cents"),
    )
