"""The stream workload: catch-up, restart, then an open-loop live phase.

The engine sees only the generator's files, read with the file source:

1. Catch-up: the backlog is released before the query starts and drained
   ``max_files_per_trigger`` files per batch (a closed loop). The first
   two batches are the warm-up; the second one's commit closes set-up.
2. Recovery, ``restarts`` times: the query is stopped, one file is
   released, and the query is restarted on the same checkpoint.
3. Live: files are released on a fixed schedule (an open loop) while the
   query runs on a fixed processing-time trigger; each file is timed from
   when it was due.

End-to-end figures come from the checkpoint logs only (``measure``); the
traced run adds the progress listener, a timing wrapper around the sink and
``AppStatusStore`` reads (``trace``).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from highload_kafka_streams_spark.compat import dsum
from highload_kafka_streams_spark.sources.kafka import parse_kafka_records
from highload_kafka_streams_spark.streaming import sinks
from highload_kafka_streams_spark.streaming.topology import StreamsBuilder, TimeWindows

import measure

WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
    ]
)
VALUE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)
QUERY_NAME = "perfbench"
WARMUP_BATCHES = 2  # catch-up batches that count as set-up
# the live schedule's offset from a trigger point: with 22 files a second
# on a 3 s trigger, none is due within 20 ms of a trigger
LIVE_PHASE_S = 0.525


def window_topology(spark, raw):
    """decode -> watermark -> group by user -> 1-hour windows -> count, sum."""
    parsed = parse_kafka_records(raw, VALUE_SCHEMA)
    return (
        StreamsBuilder(spark)
        .stream(parsed)
        .with_watermark("ts", "10 minutes")
        .group_by("user_id")
        .windowed_by(TimeWindows.of_size("1 hour"))
        .aggregate(F.count("*").alias("n"), dsum("value", "total"))
        .df
    )


KEYS = ["w_start", "w_end", "user_id"]  # one sink row per key


@dataclass
class Run:
    """One stream run's state, shared by its phases."""

    spark: object
    shape: dict
    work: str
    gen: object  # generator handle (run.Generator)
    seconds: float
    traced: bool
    listener: object = None
    spans: object = None  # tracing.Spans of a traced run
    sink_calls: dict = field(default_factory=dict)  # batch id -> [(start, end)]
    run_ids: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sink(self, base: str):
        write = sinks.idempotent_parquet_sink(base)
        if not self.traced:
            return write

        def timed_write(batch_df, batch_id):
            t0 = time.time()
            write(batch_df, batch_id)
            self.sink_calls.setdefault(batch_id, []).append((t0, time.time()))

        return timed_write

    def start(self, src: str, ckpt: str, out: str, max_files: int | None = None,
              trigger_s: float | None = None):
        reader = self.spark.readStream.schema(WIRE_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        df = window_topology(self.spark, reader.parquet(src))
        writer = (
            df.writeStream.foreachBatch(self.sink(out))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .queryName(QUERY_NAME)
        )
        if trigger_s:
            writer = writer.trigger(processingTime=f"{trigger_s} seconds")
        q = writer.start()
        self.run_ids.append(str(q.runId))
        return q


def _await_files(q, ckpt: str, names: list[str], timeout: float) -> bool:
    want = set(names)
    return measure.wait_for(
        lambda: _committed(q, ckpt) and want <= measure.file_commit_times(ckpt).keys(), timeout
    )


def phases(run: Run, manifest: dict, t_setup: float) -> dict:
    """Set-up, catch-up, recovery and live phases; returns raw timings.

    Set-up ends when the second backlog batch commits: the first runs cold
    and the second while the JIT is still busy, so both are warm-up.
    Catch-up is measured per later backlog batch, from the previous
    commit to its own (``catchup``): the CPU the engine used in between,
    and the rate, over the batch's rows."""
    ckpt, src, out = run.path("ckpt"), run.path("src"), run.path("sink")
    files = {p: [f["name"] for f in v] for p, v in manifest["phases"].items()}
    rows = {f["name"]: f["rows"] for v in manifest["phases"].values() for f in v}
    timeout = 60 + 2 * run.seconds

    # set-up and catch-up: the whole backlog is visible before the start
    run.gen.command("release backlog")
    q = run.start(src, ckpt, out, run.shape["max_files_per_trigger"])
    warm = lambda: _committed(q, ckpt) and len(measure.commit_times(ckpt)) >= WARMUP_BATCHES  # noqa: E731
    if not measure.wait_for(warm, timeout):
        raise RuntimeError("warm-up batches did not commit")
    setup_end = sorted(measure.commit_times(ckpt).values())[WARMUP_BATCHES - 1]
    measure.log("set-up done (warm-up batches committed)")
    if not _await_files(q, ckpt, files["backlog"], timeout):
        raise RuntimeError("catch-up did not drain the backlog")
    measure.log("catch-up drained")
    commits = measure.commit_times(ckpt)
    batch_rows: dict[int, int] = {}
    for name, b in measure.file_batches(ckpt).items():
        batch_rows[b] = batch_rows.get(b, 0) + rows[name]
    catchup = [  # (previous commit, commit, rows) of each measured batch
        (commits[b - 1], commits[b], batch_rows[b])
        for b in sorted(batch_rows)
        if b >= WARMUP_BATCHES and b - 1 in commits and b in commits
    ]

    # recovery: stop, release one file, restart on the same checkpoint
    recovery, first_batches = [], []
    for i in range(len(files["recovery"])):
        q.stop()
        run.gen.command(f"release recovery {i}")
        t_restart = time.time()
        q = run.start(src, ckpt, out, trigger_s=run.shape["live_trigger_s"])
        if not _await_files(q, ckpt, files["recovery"][i : i + 1], timeout):
            raise RuntimeError("restarted query committed nothing")
        after = {b: t for b, t in measure.commit_times(ckpt).items() if t > t_restart}
        recovery.append(min(after.values()) - t_restart)
        first_batches.append(min(after))
    measure.log("recovered; restart to first commit: " + " ".join(f"{x:.3f}" for x in recovery))

    # live: open-loop release on a fixed schedule
    run.gen.send(f"live {live_start(time.time(), run.shape['live_trigger_s']):.6f}")
    if not _await_files(q, ckpt, files["live"], timeout):
        # the run goes on: each uncommitted file counts as a failed operation
        measure.log("some live files were not committed in time")
    run.gen.expect_done()
    q.stop()
    measure.log("live phase done")
    return {
        "setup_s": setup_end - t_setup,
        "catchup": catchup,
        "recovery": recovery,
        "first_batches_after_restart": first_batches,
        "release_log": run.gen.release_log(),
    }


def live_start(now: float, trigger_s: float) -> float:
    """When the live schedule starts: ``LIVE_PHASE_S`` after a point of the
    trigger grid at least 0.2 s ahead. Spark fires a processing-time
    trigger at multiples of its interval since the epoch, so every run's
    files then fall in the same phase of the trigger cycle; an arbitrary
    start moved the latency percentiles between runs."""
    grid = math.ceil((now + 0.2 - LIVE_PHASE_S) / trigger_s) * trigger_s
    return grid + LIVE_PHASE_S


def _committed(q, ckpt: str) -> bool:
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")
    return bool(measure.commit_times(ckpt))


def _fingerprint(df) -> tuple:
    """(rows, exact sum of per-row 64-bit hashes): equal for equal
    multisets of rows, in one pass."""
    row = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))
    r = row.agg(F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0]
    return r["n"], r["s"]


def check(run: Run) -> tuple[bool, str]:
    """Compare the sink with a batch run of the same topology on the same
    rows."""
    sc = run.spark.sparkContext
    sc.setJobDescription("perfbench check")
    try:
        return _check(run)
    finally:
        sc.setJobDescription(None)


def _check(run: Run) -> tuple[bool, str]:
    spark = run.spark
    want_df = window_topology(spark, spark.read.schema(WIRE_SCHEMA).parquet(run.path("src")))
    got_df = sinks.read_latest_per_key(spark, run.path("sink"), KEYS).select(*want_df.columns)
    if _fingerprint(got_df) == _fingerprint(want_df):
        return True, "sink equals batch run"
    missing = want_df.exceptAll(got_df).limit(3).collect()
    extra = got_df.exceptAll(want_df).limit(3).collect()
    return False, f"sink differs from batch run: missing {missing} extra {extra}"
