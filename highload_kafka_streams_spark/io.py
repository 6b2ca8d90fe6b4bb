"""Fixture-table loading with oracle-parity fixes.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per
scale-factor directory.

Parity-critical handling:

- ``events.ts`` has shipped in two fixture generations: INT64
  TIMESTAMP(NANOS) (Spark reads it, under
  ``spark.sql.legacy.parquet.nanosAsLong=true``, as a long of ns since
  epoch) and INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark reads
  it as TIMESTAMP_NTZ). The DuckDB oracle sees a µs TIMESTAMP either way.
  ``load_table`` inspects the *actual* read type and normalizes to a
  session-zoned (UTC) TimestampType with the same µs instants in both
  engines: ns-long → ``timestamp_micros(ts DIV 1000)`` (integer floor
  division, bit-identical to DuckDB's ns→µs cast); NTZ → plain cast
  (naive wall-clock reinterpreted in the UTC session zone — the identity
  mapping DuckDB applies implicitly).

At 100 TB these would be partitioned/bucketed datasets rather than single
files; ``load_table`` only declares *what* to read — Catalyst handles
column pruning + predicate pushdown into the parquet scan, which is what
actually matters at scale.

``load_table`` declares no schema: every call infers it from the
parquet footer, which Spark runs as one small job when the query is
built (a schema given with ``spark.read.schema(...)`` runs none).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# dims small enough to broadcast at ANY scale factor (bounded domains)
BROADCASTABLE = ("region", "nation", "supplier")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes `events.ts` to a µs timestamp."""
    if name == "events":
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            # ns fixture: ns long → µs timestamp via INTEGER division
            # (matches DuckDB's ns→µs cast; double division would round at
            # ~1.7e15 and drift by ±1µs)
            return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return _tz_normalize(df)
    return _tz_normalize(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _tz_normalize(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-zoned (UTC) TimestampType.

    The µs fixture generation writes `isAdjustedToUTC=false` parquet
    timestamps which Spark 4 reads as NTZ; reinterpreting the naive wall
    clock in the UTC session zone preserves the exact instants the DuckDB
    oracle sees and keeps every downstream consumer (`window()`,
    `unix_timestamp`, watermarks, joins against literals) on the single
    timestamp type the engine was built against."""
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Cross-query materialization memo (r8 verdict item 3)
#
# Several graph/dedup queries consume the SAME derived pair table (the
# inverted-index shingle join over `documents`, the co-purchase part-pair
# join over `lineitem`); each query re-derived it from scratch — correct
# but ~2-4 s of repeated work per consumer at sf0.1, and the whole top of
# the bench. The driver and the bench both run every query inside ONE
# long-lived session, which is exactly the regime a production engine
# would serve with a materialized shared table. `memo_parquet` gives the
# builders that lifecycle with per-query self-containment preserved:
#
# - keyed by (kind, pipeline version, fixture identity) where fixture
#   identity = realpath + (mtime_ns, size) of every source table file, so
#   a regenerated or different fixture NEVER reuses a stale memo (tests
#   that synthesize their own fixture dirs get their own entries);
# - cache miss (fresh process, new fixture) rebuilds from scratch — a
#   query run in isolation computes precisely what it always computed;
# - stored as parquet under a process-private temp dir: deterministic
#   value roundtrip (long/double), immune to spark.catalog.clearCache(),
#   readable by any later session in the process.
#
# At 100 TB the analogue is a curated, bucketed silver table refreshed by
# the pipeline scheduler; the memo is the single-process stand-in.
# ---------------------------------------------------------------------------

_MEMO_LOCK = threading.Lock()
_MEMO_PATHS: dict[tuple, str] = {}
_MEMO_KEY_LOCKS: dict[tuple, threading.Lock] = {}
_MEMO_ROOT: str | None = None
# Per-process memo observability (r9 advisor): builds records the cold
# build+write seconds per kind, hits counts read-back serves per kind.
# bench.py snapshots hits around each timed query so the artifact marks
# which timings rode the memo instead of deriving the table.
# builds ACCUMULATES across rebuilds of the same kind (r10 advisor: a
# reaped _SUCCESS sentinel triggers an in-run rebuild, and an overwrite
# would under-report the total cold-build cost the artifact claims to
# record): each entry is {"sec": total_seconds, "count": n_builds}.
_MEMO_STATS: dict[str, dict] = {"builds": {}, "hits": {}}


def memo_stats() -> dict[str, dict]:
    """Copy of the process's memo counters: ``{"builds": {kind: {"sec":
    total_build_seconds, "count": n_builds}}, "hits": {kind:
    n_serves}}``."""
    with _MEMO_LOCK:
        return {
            "builds": {k: dict(v) for k, v in _MEMO_STATS["builds"].items()},
            "hits": dict(_MEMO_STATS["hits"]),
        }


def _memo_valid(path: str) -> bool:
    # Serve a memo only while Spark's commit sentinel survives. The memo
    # lives under a /tmp mkdtemp dir: a tmp reaper can prune part files
    # out from under a long-lived driver, and a dir-exists check alone
    # would then hand consumers a read failure (or partial data) instead
    # of a rebuild.
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _fixture_signature(sf_dir: str, src_tables: tuple[str, ...]) -> tuple:
    sig = []
    for t in src_tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            sig.append((t, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((t, -1, -1))
    return tuple(sig)


def memo_parquet(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    src_tables: tuple[str, ...],
    build,
    version: str = "1",
) -> DataFrame:
    """Materialize-once derived table shared across queries in a process.

    ``build(spark) -> DataFrame | (DataFrame, cleanup)`` runs on cache
    miss; its result is written to parquet and every consumer (including
    the builder's own return) reads the file back, so the expensive plan
    executes exactly once per (kind, version, fixture). ``cleanup`` (e.g.
    an unpersist of a build-side cache) runs after the write.

    Concurrency: build+write for a key runs under that key's own lock,
    and the memo map is re-checked after acquiring it, so two concurrent
    consumers of one key build once and wait rather than racing one
    output dir. The dir name is a stable hash of the full key (never a
    counter), so distinct fixtures of the same kind can never be assigned
    the same path even if they build simultaneously. A hit is only served
    while the write's ``_SUCCESS`` sentinel survives; a reaped or
    half-gone memo drops its entry and rebuilds in place."""
    global _MEMO_ROOT
    key = (kind, version, os.path.realpath(sf_dir), _fixture_signature(sf_dir, src_tables))
    with _MEMO_LOCK:
        key_lock = _MEMO_KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        with _MEMO_LOCK:
            path = _MEMO_PATHS.get(key)
        if path is not None:
            if _memo_valid(path):
                with _MEMO_LOCK:
                    _MEMO_STATS["hits"][kind] = _MEMO_STATS["hits"].get(kind, 0) + 1
                return spark.read.parquet(path)
            with _MEMO_LOCK:
                _MEMO_PATHS.pop(key, None)
        t0 = time.perf_counter()
        result = build(spark)
        df, cleanup = result if isinstance(result, tuple) else (result, None)
        digest = hashlib.sha1(repr(key).encode()).hexdigest()[:16]
        with _MEMO_LOCK:
            if _MEMO_ROOT is None:
                _MEMO_ROOT = tempfile.mkdtemp(prefix="hks_memo_")
            path = os.path.join(_MEMO_ROOT, f"{kind}_v{version}_{digest}")
        df.write.mode("overwrite").parquet(path)
        if cleanup is not None:
            cleanup()
        with _MEMO_LOCK:
            _MEMO_PATHS[key] = path
            slot = _MEMO_STATS["builds"].setdefault(kind, {"sec": 0.0, "count": 0})
            slot["sec"] = round(slot["sec"] + (time.perf_counter() - t0), 3)
            slot["count"] += 1
        return spark.read.parquet(path)


def write_compacted(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Write ``df`` as parquet with size-targeted files — the
    small-file-management pass every long-lived 100 TB dataset needs
    (a day of 10k-task jobs otherwise leaves millions of KB-sized
    files, and the NEXT job's scan planning chokes on file listing
    before it reads a byte).

    File count = sampled-size estimate / ``target_file_bytes`` (floor 1
    per partition-by group). ``sort_cols`` applies a per-file sort so
    parquet min/max zone maps stay selective (the storage-side half of
    predicate pushdown). Returns the planned file count per output
    partition.

    Plan shape: one repartition exchange (hash on ``partition_by`` so
    co-partitioned rows land in the same files, round-robin otherwise),
    then ``sortWithinPartitions`` — never a global sort."""
    est = _estimate_bytes(df)
    n_files = max(1, int(est / target_file_bytes) + (est % target_file_bytes > 0))
    if partition_by:
        staged = df.repartition(n_files, *partition_by)
    else:
        staged = df.repartition(n_files)
    if sort_cols:
        staged = staged.sortWithinPartitions(*sort_cols)
    writer = staged.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return n_files


def _estimate_bytes(df: DataFrame) -> int:
    """Uncompressed-size estimate from the optimized plan's statistics
    (parquet footer metadata — no data scan). Falls back to a 1-file
    answer when stats are absent (e.g. a pure in-memory frame)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> str:
    """Persist ``df`` as a hash-bucketed (optionally per-bucket-sorted)
    table — the storage-side half of shuffle elimination. Two tables
    bucketed on their join key with the same bucket count join with ZERO
    exchange: each task reads bucket *i* of both sides, because the
    hash-partitioning was done once at write time instead of once per
    query. At 100 TB this is the difference between re-shuffling the
    fact table on every join and never shuffling it again; ``sort_cols``
    additionally pre-sorts the files so sort-merge join skips its sort.

    The frame is repartitioned to ``num_buckets`` on the bucket columns
    first so each bucket lands in exactly one file (many small writers
    otherwise produce files-per-bucket = task count). Registered as an
    external table (explicit ``path``, default under the system temp
    dir) so it works on any catalog including the in-memory one."""
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"hks_bucketed_{table}")
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
    return table
