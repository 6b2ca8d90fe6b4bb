"""SparkSession factory + session configuration.

The driver may hand us an already-built SparkSession (``__spark_entry__``
contract), so everything the engine *needs* must be settable on a live
session. ``configure_session`` applies those runtime confs; ``get_spark``
builds a session for tests/bench with the same settings plus
builder-only ones.

Scale posture (SURVEY.md §4): AQE on (skew joins, partition coalescing),
UTC timezone for deterministic timestamp semantics, Arrow enabled for the
pandas-UDF paths.

Shuffle width has two readers, and each gets its own conf:

- Batch plans start every shuffle at 32 partitions
  (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and AQE
  coalesces the small ones. With AQE coalescing on, Spark's
  ``SQLConf.numShufflePartitions`` returns that value and never reads
  ``spark.sql.shuffle.partitions``.
- Streaming turns AQE off inside micro-batches, so stateful operators, their
  state store and the ``foreachBatch`` sink use
  ``spark.sql.shuffle.partitions`` as is. ``configure_session`` sets it to
  the session's ``defaultParallelism`` (the cores). A query records the
  value in its offset log at its first start and restores it from there on
  every restart: a checkpoint's state partitions are fixed for its life,
  and a checkpoint started under another width keeps that width.

Every trigger writes files per state partition (its delta file, checksum
sidecar, tmp+rename and ``.crc`` files) plus offset-log, commit-log and sink
files. On hosts without the Hadoop native library, Hadoop's local filesystem
forks a ``chmod`` for each permission it sets and a ``readlink`` for each
link-status lookup (``FileContext.rename`` makes four per renamed file): about
20 spawns per state partition per micro-batch. Sessions ``get_spark`` starts
on a local master therefore use ``hks.localfs`` (``jvm/``, built by
``tools/build_jvm.py``) for the ``file:`` scheme: the same classes with those
two calls made through Java NIO, so a checkpointed stream forks nothing. Both
checksum layers stay, so ``.crc`` files and Spark's checksum sidecars are
written and verified as before; other schemes (HDFS, S3) are untouched.
Driver-provided sessions keep their own filesystem: a running JVM cannot take
the jar onto its classpath. Without ``hks.localfs``, ``file:`` resolves to
Hive's ``ProxyLocalFileSystem`` (``hive-exec`` registers it through the
ServiceLoader). Its one change to ``LocalFileSystem``, ``rename`` onto an
existing file returning false, is nothing the engine relies on: the checkpoint
managers rename through ``FileContext``, and Spark's committers clear the
destination first.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are session-settable at runtime (SQLConf). Applied both at
# build time and defensively on driver-provided sessions.
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark cannot
    # map to TimestampType; read as long and convert in io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the µs fixture generation writes isAdjustedToUTC=false timestamps;
    # read them as plain TimestampType (UTC instants) IN THE SCAN rather
    # than as TIMESTAMP_NTZ + a cast projection — a cast above the scan
    # blocks parquet filter pushdown on every timestamp predicate
    # (measured 2×+ on lineitem-heavy queries at sf0.1)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # cover the fixture dims (region 5, nation 25, supplier 1k, part 20k,
    # customer 15k rows at sf0.1) so star joins broadcast instead of shuffle
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # batch shuffle width before AQE coalesces; spark.sql.shuffle.partitions
    # (streaming's width) is set from the cores in configure_session
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # totalBytes/minPartitionNum)). Test-SF tables are single-digit MB, so
    # the default 4 MB open cost pins EVERY scan to one split — one core
    # does all the per-row work (measured: the minhash signature stage ran
    # 1/32 cores). 16 KB keeps openCost below bytesPerCore for every
    # test table, so each scan splits to exactly minPartitionNum
    # (= defaultParallelism) tasks; at real scale
    # totalBytes/minPartitionNum >> openCost, maxPartitionBytes (128 MB)
    # governs, and this setting is inert.
    "spark.sql.files.openCostInBytes": "16384",
}

# The file: filesystem of local sessions (module docstring). Launch-time only:
# the jar must be on the JVM's classpath when it launches.
_LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "hks-localfs.jar")
_LOCAL_FS_CONFS: dict[str, str] = {
    "spark.driver.extraClassPath": _LOCAL_FS_JAR,
    "spark.hadoop.fs.file.impl": "hks.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "hks.localfs.NioLocalFs",
}


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make the engine package importable inside Python WORKER processes.

    cloudpickle serializes module-level functions (our applyInPandas /
    pandas_udf kernels) by reference, so workers must import
    ``highload_kafka_streams_spark`` themselves. On a driver-provided
    session launched from an arbitrary cwd, the repo root is on the
    DRIVER's sys.path only (``__spark_entry__`` inserts it) — workers
    would die with ModuleNotFoundError (reproduced by running the entry
    contract from /tmp). ``addPyFile`` of a package zip fixes this for
    any session, local or cluster — the same mechanism you'd use to ship
    the engine to a 1000-executor cluster."""
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_hks_pkg_shipped", False):
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "highload_kafka_streams_spark")
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="hks_pkg_"), "highload_kafka_streams_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._hks_pkg_shipped = True


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Also sizes ``spark.sql.shuffle.partitions``, the streaming state width,
    to ``defaultParallelism``; batch plans keep their 32-way start."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be non-settable on some builds; engine code paths
            # that depend on one (io.load_table) re-check and fail loudly.
            pass
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        _ship_package_to_workers(spark)
    except Exception:
        # best-effort: on Connect-style sessions without a sparkContext
        # the session keeps its own streaming width, and the normal
        # PYTHONPATH path still applies
        pass
    return spark


def get_spark(
    app_name: str = "highload-kafka-streams-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. Shuffle width (see the module docstring): batch plans
    start at 32 partitions and AQE coalesces them; streaming state gets one
    partition per core of ``master``, fixed for a checkpoint's life at its
    first start. On a ``local`` master, ``file:`` paths go through
    ``hks.localfs`` (module docstring), which forks no ``chmod`` or
    ``readlink`` per checkpoint file; that takes effect only when this call
    starts the JVM.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    confs = dict(_RUNTIME_CONFS)
    if master.startswith("local"):
        confs.update(_LOCAL_FS_CONFS)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)
