"""Engine benchmark: stream latency and catch-up throughput beside the batch
headline pass, with a traced per-layer breakdown.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

``--trace 0`` measures the end-to-end metrics with no instrument beyond the
checkpoint logs and ``/proc``; ``--trace 1`` adds the progress listener, the
sink timing wrapper, job descriptions and ``AppStatusStore`` reads, and
prints the per-layer metrics (plus its own end-to-end figures as
``traced.*``, so the trace overhead is traced over untraced). ``all`` runs
every workload of ``BENCHMARK.json`` both ways and prints the overhead.
``--cores 1`` gives the single-threaded diagnostic baseline.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Every file the run writes lives
under ``.perfbench_work/`` (removed at the end) and ``.perfbench_out/``
(traces) in the checkout.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import measure
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "highload_kafka_streams_spark", "__init__.py")

# gated: set-up time, and the CPU the engine spends per thousand rows of
# its measured work (the cores a deployment needs for a given input rate)
E2E = {
    "setup_s": "s",
    "cpu_ms_per_krow": "ms/krow",
}
# what a user waits for, in wall-clock time: the untraced run logs these
# on standard error and the traced run prints them as traced.<name>. They
# are not gated: on a shared host they follow the host's load (see README)
WALL = {
    "catchup_rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
}
# A live file the generator released more than this after its due time is
# left out of the latency sample: the lateness would add straight into its
# latency, or push it past a trigger. 0.1 s is a tenth of what the 0.25
# bound allows on a latency_p50_s of about 4 s; release lateness usually
# reads a few milliseconds. When too few files are left for the p95, the
# live phase is void.
LATE_S = 0.1


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class Generator:
    """Handle on the load-generator process (``gen.py``)."""

    def __init__(self, workload: str, seed: int, work: str, seconds: float):
        self.work = work
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--work", work, "--seconds", str(seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
        )
        word, value = self._line().split()
        if word != "ready":
            raise RuntimeError(f"generator: {word} {value}")
        self.prep_s = float(value)
        self.manifest = load_json(os.path.join(work, "manifest.json"))

    def _line(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with {self.proc.wait()}")
        return line.strip()

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def expect_done(self) -> None:
        line = self._line()
        if line != "done":
            raise RuntimeError(f"generator: {line}")

    def command(self, cmd: str) -> None:
        self.send(cmd)
        self.expect_done()

    def release_log(self) -> list[dict]:
        with open(os.path.join(self.work, "release_log.jsonl")) as f:
            return [json.loads(line) for line in f]

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("quit")
                self.proc.wait(timeout=10)
            except (BrokenPipeError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def prepare_env(work: str) -> None:
    """Keep every temporary file of the engine, the JVM and the Python
    workers inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dspark.ui.showConsoleProgress=false",
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _epoch(iso: str) -> float:
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# stream workload
# ---------------------------------------------------------------------------


def run_stream(args, spec, gen, work, sampler, clock) -> dict:
    import streams
    from highload_kafka_streams_spark.session import get_spark

    shape = spec["workloads"][args.workload]["shape"]
    t_setup = time.time()
    spark = get_spark(master=f"local[{args.cores}]")
    session_start_s = time.time() - t_setup
    try:
        run = streams.Run(spark, shape, work, gen, args.seconds, args.trace)
        if args.trace:
            run.listener = tracing.ProgressListener()
            run.listener.watch.add(streams.QUERY_NAME)
            spark.streams.addListener(run.listener)
        cpu_before = dict(sampler.worker_cpu) if sampler else {}
        raw = streams.phases(run, gen.manifest, t_setup)
        worker_cpu = sampler.worker_cpu_since(cpu_before) if sampler else 0.0

        ckpt = run.path("ckpt")
        log = raw["release_log"]
        on_time = {r["name"]: r["due"] for r in log if r["actual"] - r["due"] <= LATE_S}
        lat = measure.file_latencies(ckpt, on_time)
        live = [v for v in lat.values() if v is not None]
        late = [r["actual"] - r["due"] for r in log]
        late_p99 = measure.percentile(late, 0.99)
        measure.log(f"generator late p99 {late_p99:.4f} s; "
                    f"{len(log) - len(on_time)} files later than {LATE_S} s")
        names = [f["name"] for v in gen.manifest["phases"].values() for f in v]
        committed = measure.file_commit_times(ckpt)
        attempted = len(names)
        failed = sum(1 for n in names if n not in committed)
        layers = stream_layers(run, raw, spark, ckpt, log, worker_cpu, sampler) if args.trace else {}
        ok, detail = streams.check(run)
        measure.log("output check done")
        if not ok:
            print(f"output check failed: {detail}", file=sys.stderr)
            failed = attempted
        try:
            p95 = measure.tail_percentile(live, 0.95)
        except ValueError:  # too few on-time live files committed
            p95 = None
            if len(on_time) < len(log):
                print("too few live files released on time; live phase void", file=sys.stderr)
                failed = attempted
        cpu = [clock.between(t0, t1) for t0, t1, _ in raw["catchup"]]
        rates = [n / (t1 - t0) for t0, t1, n in raw["catchup"]]
        measure.log("catch-up per batch, cpu s: " + " ".join(f"{x:.2f}" for x in cpu)
                    + "; rows/s: " + " ".join(f"{x:.0f}" for x in rates))
        e2e = {
            "setup_s": raw["setup_s"],
            # median over the measured batches of CPU per row
            "cpu_ms_per_krow": _median([c * 1e6 / n for c, (_, _, n) in zip(cpu, raw["catchup"])]),
        }
        wall = {
            "catchup_rows_per_s": _median(rates),
            "latency_p50_s": measure.percentile(live, 0.5) if live else None,
            "latency_p95_s": p95,
        }
        layers.update({"session.start_s": session_start_s, "gen.prep_s": gen.prep_s,
                       "gen.late_p99_s": late_p99,
                       "restart.recovery_s": _median(raw["recovery"])})
        return {"ok": ok and failed == 0, "attempted": attempted, "failed": failed,
                "e2e": e2e, "wall": wall, "layers": layers, "spans": run.spans}
    finally:
        stop_spark(spark)


def stream_layers(run, raw, spark, ckpt, log, worker_cpu, sampler) -> dict:
    """Per-layer figures of the measured phases (catch-up, recovery, live)."""
    import pyarrow.parquet as pq

    runs = set(run.run_ids)
    batches = [p for p in tracing.executed_batches(run.listener.progress) if p["runId"] in runs]
    data = [p for p in batches if p["numInputRows"] > 0]
    dur = lambda p, k: float(p["durationMs"].get(k, 0))  # noqa: E731
    med = lambda k: _median([dur(p, k) for p in data])  # noqa: E731
    state = lambda p: (p.get("stateOperators") or [{}])[0]  # noqa: E731
    by_id = {p["batchId"]: p for p in batches}
    file_batch = measure.file_batches(ckpt)
    commits = measure.commit_times(ckpt)
    start = {b: _epoch(p["timestamp"]) for b, p in by_id.items()}

    # spans: one request per live file, one span tree per executed batch
    spans = tracing.Spans()
    for p in batches:
        b, t = p["batchId"], start[p["batchId"]]
        root = spans.add("mb.batch", t, t + dur(p, "triggerExecution") / 1e3, f"batch-{b}")
        for name, key in (("source.latest_offset", "latestOffset"), ("mb.wal_commit", "walCommit"),
                          ("source.get_batch", "getBatch"), ("mb.query_planning", "queryPlanning"),
                          ("mb.add_batch", "addBatch"), ("mb.commit_offsets", "commitOffsets")):
            calls = run.sink_calls.get(b, ()) if key == "addBatch" else ()
            if calls:
                # foreachBatch runs the batch inside the sink call: anchor
                # addBatch on the sink call's real start
                t = min(c[0] for c in calls) - max(
                    0.0, dur(p, key) / 1e3 - sum(c[1] - c[0] for c in calls))
            sid = spans.add(name, t, t + dur(p, key) / 1e3, f"batch-{b}", root)
            for s0, s1 in calls:
                spans.add("sink.write", s0, s1, f"batch-{b}", sid)
            t += dur(p, key) / 1e3
    waits = []
    for r in log:
        b = file_batch.get(r["name"])
        if b is None or b not in commits or b not in start:
            continue
        rid = spans.add("request", r["due"], commits[b], r["name"])
        spans.add("mb.wait", r["due"], max(r["due"], start[b]), r["name"], rid)
        waits.append((start[b] - r["due"]) * 1e3)
    run.spans = spans

    # backlog at each live batch start: released but not yet read
    released = sorted(r["actual"] for r in log)
    live_batches = sorted({file_batch[r["name"]] for r in log if r["name"] in file_batch})
    backlog = []
    for b in live_batches:
        if b in start:
            read_before = sum(1 for r in log if file_batch.get(r["name"], 1 << 60) < b)
            backlog.append(sum(1 for t in released if t <= start[b]) - read_before)

    stages = tracing.stage_totals(spark, lambda d: any(f"runId = {r}" in d for r in runs))
    _, job_wall = tracing.job_totals(spark, lambda d: any(f"runId = {r}" in d for r in runs))
    files_per_batch = {}
    for name, b in file_batch.items():
        files_per_batch[b] = files_per_batch.get(b, 0) + 1
    sink_rows = 0
    sink_dirs = [d for d in os.listdir(run.path("sink")) if d.startswith("batch_id=")]
    for d in sink_dirs:
        for f in os.listdir(run.path("sink", d)):
            if f.endswith(".parquet"):
                sink_rows += pq.ParquetFile(run.path("sink", d, f)).metadata.num_rows
    live_add = _median([dur(by_id[b], "addBatch") for b in live_batches if b in by_id])
    first = [by_id[b] for b in raw["first_batches_after_restart"] if b in by_id]
    trig = [dur(p, "triggerExecution") for p in data]
    selfs = spans.self_times()
    out = {
        "registry.build_s": 0.0, "registry.build_jobs": 0, "catalyst.plan_s": 0.0,
        "mb.query_planning_ms": med("queryPlanning"),
        "io.memo_hits": 0, "io.memo_build_s": 0.0,
        **_exec_layers(stages, job_wall),
        **_process_layers(sampler, worker_cpu),
        "source.latest_offset_ms": med("latestOffset"),
        "source.get_batch_ms": med("getBatch"),
        "source.files_per_batch": _median([files_per_batch[p["batchId"]] for p in data
                                           if p["batchId"] in files_per_batch]),
        "source.rows_per_batch": _median([p["numInputRows"] for p in data]),
        "source.backlog_files": max(backlog, default=0),
        "mb.batches": len(batches),
        "mb.no_data_batches": len(batches) - len(data),
        "mb.trigger_ms.p50": _median(trig),
        # few batches per run: this p95 sits near the slowest batch
        "mb.trigger_ms.p95": measure.percentile(trig, 0.95) if trig else 0.0,
        "mb.add_batch_ms": med("addBatch"),
        "mb.wal_commit_ms": med("walCommit"),
        "mb.commit_offsets_ms": med("commitOffsets"),
        "mb.wait_ms": _median(waits),
        "state.partitions": max((state(p).get("numShufflePartitions", 0) for p in batches), default=0),
        "state.rows_total": state(batches[-1]).get("numRowsTotal", 0) if batches else 0,
        "state.memory_bytes": max((state(p).get("memoryUsedBytes", 0) for p in batches), default=0),
        "state.commit_ms": _median([state(p).get("commitTimeMs", 0) for p in data]),
        "state.rows_updated": sum(state(p).get("numRowsUpdated", 0) for p in batches),
        "state.rows_removed": sum(state(p).get("numRowsRemoved", 0) for p in batches),
        "state.rows_dropped_by_watermark": sum(
            state(p).get("numRowsDroppedByWatermark", 0) for p in batches),
        "state.load_ms": _median([dur(p, "addBatch") - live_add for p in first]),
        "sink.write_ms": _median([(s1 - s0) * 1e3 for b, calls in run.sink_calls.items()
                                  if b in by_id for s0, s1 in calls]),
        "sink.rows": sink_rows,
        "sink.batches": len(sink_dirs),
        "sink.rewrites": sum(len(c) - 1 for c in run.sink_calls.values()),
    }
    out.update({f"self.{k}_s": v for k, v in selfs.items()})
    return out


def _process_layers(sampler, worker_cpu: float) -> dict:
    return {
        "mem.peak_rss_mb": sampler.peak_rss / 2**20,
        "pyworker.cpu_s": worker_cpu,
        "pyworker.procs": len(sampler.worker_cpu),
    }


def _exec_layers(stages: dict, wall_s: float) -> dict:
    return {
        "exec.wall_s": wall_s,
        "exec.cpu_s": stages["cpu_s"],
        "exec.run_s": stages["run_s"],
        "exec.gc_s": stages["gc_s"],
        "exec.tasks": stages["tasks"],
        "exec.tasks_useful_ratio": stages["useful_tasks"] / stages["tasks"] if stages["tasks"] else 0.0,
        "shuffle.read_bytes": stages["shuffle_read_bytes"],
        "shuffle.write_bytes": stages["shuffle_write_bytes"],
        "spill.bytes": stages["spill_bytes"],
    }


# ---------------------------------------------------------------------------
# batch workload
# ---------------------------------------------------------------------------


def run_batch(args, spec, gen, work, sampler, clock) -> dict:
    import batch
    from highload_kafka_streams_spark.session import get_spark

    sf_dir = os.path.join(work, "tables")
    names = spec["headline"]
    t_setup = time.time()
    spark = get_spark(master=f"local[{args.cores}]")
    session_start_s = time.time() - t_setup
    try:
        spans = tracing.Spans() if args.trace else None
        h = batch.Headline(spark, sf_dir, names, gen.manifest["tables"], args.trace, spans)
        setup_s = session_start_s + h.registry_load_s
        measure.log("set-up done")

        # the measured pass: cold, as a backfill job in a fresh application;
        # it is also the output check
        cpu_before = dict(sampler.worker_cpu) if sampler else {}
        hits0, _ = h.memo()
        timings, failures, digests = h.measured_pass(clock)
        worker_cpu = sampler.worker_cpu_since(cpu_before) if sampler else 0.0
        hits1, memo_build_s = h.memo()
        for name, want in spec["no_oracle_reference"].items():
            if name not in failures and digests.get(name) != want:
                failures[name] = f"result hash {digests.get(name)}, reference {want}"
        for name, why in failures.items():
            print(f"output check failed: {name}: {why}", file=sys.stderr)
        done = [timings[n] for n in names if n in timings]
        lat = [t.end - t.start for t in done]
        cpu = sum(t.cpu_s for t in done)
        input_rows = sum(h.input_rows(t.df) for t in done)
        measure.log(f"measured pass wall {sum(lat):.3f} s, cpu {cpu:.3f} s")
        layers = batch_layers(spark, spans, worker_cpu, sampler, hits1 - hits0, memo_build_s) if args.trace else {}

        if args.trace:
            # recovery: a restarted session (same JVM) to its first result
            recovery = []
            for _ in range(spec["workloads"]["batch_headline"]["restarts"]):
                spark.stop()
                t_restart = time.time()
                spark = get_spark(master=f"local[{args.cores}]")
                h.queries[names[0]](spark, sf_dir).toPandas()
                recovery.append(time.time() - t_restart)
            layers["restart.recovery_s"] = _median(recovery)
            measure.log("recovered; restart to first result: "
                        + " ".join(f"{x:.3f}" for x in recovery))

        if not done:  # every query raised: nothing was measured
            raise RuntimeError("no headline query ran: " + "; ".join(failures.values()))
        e2e = {
            "setup_s": setup_s,
            "cpu_ms_per_krow": cpu * 1e6 / input_rows,
        }
        # all 13 requests are due at the pass start and served in order by
        # one client: a request's latency is its completion time from the
        # pass start, leaving out the check's DuckDB side between requests.
        # 13 samples: the p95 has fewer than ten beyond it and reads as
        # "time to nearly all results"
        done_at = [sum(lat[: i + 1]) for i in range(len(lat))]
        wall = {
            "catchup_rows_per_s": input_rows / sum(lat),
            "latency_p50_s": measure.percentile(done_at, 0.5),
            "latency_p95_s": measure.percentile(done_at, 0.95),
        }
        layers.update({"session.start_s": session_start_s, "gen.prep_s": gen.prep_s,
                       "gen.late_p99_s": 0.0})
        return {"ok": not failures, "attempted": len(names), "failed": len(failures),
                "e2e": e2e, "wall": wall, "layers": layers, "spans": spans}
    finally:
        stop_spark(spark)


def batch_layers(spark, spans, worker_cpu, sampler, memo_hits, memo_build_s) -> dict:
    """Per-layer figures of the measured pass (job descriptions
    ``perfbench|t0|<query>|<phase>``)."""

    phase = lambda part: lambda d: d.startswith("perfbench|t0|") and d.endswith(part)  # noqa: E731
    stages = tracing.stage_totals(spark, phase("|exec"))
    build_jobs, _ = tracing.job_totals(spark, phase("|build"))
    _, exec_wall = tracing.job_totals(spark, phase("|exec"))
    by_name: dict[str, float] = {}
    for s in spans.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["end"] - s["start"]
    out = {
        "registry.build_s": by_name.get("registry.build", 0.0),
        "registry.build_jobs": build_jobs,
        "catalyst.plan_s": by_name.get("catalyst.plan", 0.0),
        "mb.query_planning_ms": 0.0,
        "io.memo_hits": memo_hits,
        "io.memo_build_s": memo_build_s,
        **_exec_layers(stages, exec_wall),
        **_process_layers(sampler, worker_cpu),
    }
    out.update({k: 0 for k in STREAM_ONLY})
    out.update({f"self.{k}_s": v for k, v in spans.self_times().items()})
    return out


STREAM_ONLY = (
    "source.latest_offset_ms", "source.get_batch_ms", "source.files_per_batch",
    "source.rows_per_batch", "source.backlog_files", "mb.batches", "mb.no_data_batches",
    "mb.trigger_ms.p50", "mb.trigger_ms.p95", "mb.add_batch_ms", "mb.wal_commit_ms",
    "mb.commit_offsets_ms", "mb.wait_ms", "state.partitions", "state.rows_total",
    "state.memory_bytes", "state.commit_ms", "state.rows_updated", "state.rows_removed",
    "state.rows_dropped_by_watermark", "state.load_ms", "sink.write_ms", "sink.rows",
    "sink.batches", "sink.rewrites",
)


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def run_one(args) -> int:
    spec = load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    gen = sampler = clock = None
    try:
        prepare_env(work)
        gen = Generator(args.workload, args.seed, work, args.seconds)
        measure.log("generator ready")
        clock = measure.CpuClock(os.getpid(), exclude={gen.proc.pid}).start()
        if args.trace:
            sampler = measure.TreeSampler(os.getpid(), exclude={gen.proc.pid}).start()
        runner = run_batch if args.workload == "batch_headline" else run_stream
        res = runner(args, spec, gen, work, sampler, clock)
    finally:
        measure.log("engine stopped")
        for thread in (sampler, clock):
            if thread is not None:
                thread.stop()
        if gen is not None:
            gen.close()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        if res["spans"] is not None:
            res["spans"].write(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(res["layers"].items())}
        metrics.update({f"traced.{k}": {"value": v, "unit": E2E[k]} for k, v in res["e2e"].items()})
        metrics.update({f"traced.{k}": {"value": v, "unit": WALL[k]} for k, v in res["wall"].items()})
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
        measure.log("wall: " + ", ".join(f"{k} {v}" for k, v in res["wall"].items()))
    print(json.dumps({"correct": res["ok"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["ok"] else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_ms") or ".trigger_ms." in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Every BENCHMARK.json workload, untraced then traced; prints all
    metrics with units and the trace overhead (traced / untraced)."""
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    summary, ok, attempted, failed = {}, True, 0, 0
    for w in [x["name"] for x in bench["workloads"]]:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--cores", str(args.cores)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = out.stdout.strip().splitlines()
            if not lines:
                print(f"{w} trace={trace}: no result (exit {out.returncode})", file=sys.stderr)
                return 1
            res[trace] = json.loads(lines[-1])
            ok &= res[trace]["correct"]
            attempted += res[trace]["attempted"]
            failed += res[trace]["failed"]
        print(f"== {w}")
        for k, m in res[0]["metrics"].items():
            traced = res[1]["metrics"][f"traced.{k}"]["value"]
            ratio = traced / m["value"] if m["value"] else float("nan")
            print(f"  {k:24s} {m['value']:14.4f} {m['unit']:7s} traced {traced:.4f} (x{ratio:.3f})")
            summary[f"{w}.{k}"] = m
            summary[f"{w}.trace_overhead.{k}"] = {"value": ratio, "unit": "ratio"}
        for k, m in res[1]["metrics"].items():
            if not k.startswith("traced."):
                print(f"  {k:34s} {m['value']:14.4f} {m['unit']}")
                summary[f"{w}.{k}"] = m
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": summary}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    if not os.path.isfile(ENGINE):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    if args.cores is None:
        args.cores = load_json(os.path.join(HERE, "spec.json"))["cores"]
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
