"""Traced-run instruments: in-memory spans, the streaming progress
listener, and reads of Spark's ``AppStatusStore``.

Spans are kept in memory and written out once, at the end of a run. Each
records a name, start, end (epoch seconds), the id of the span that caused
it, and a request id shared by every span of one request: one live file
on ``stream_window_kafka``, one query execution on ``batch_headline``.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener

# span name -> layer whose self time it counts towards
LAYER = {
    "request": "request",
    "mb.wait": "wait",
    "mb.batch": "mb",
    "source.latest_offset": "source",
    "source.get_batch": "source",
    "mb.query_planning": "catalyst",
    "mb.add_batch": "exec",
    "sink.write": "sink",
    "mb.wal_commit": "mb",
    "mb.commit_offsets": "mb",
    "registry.build": "registry",
    "catalyst.plan": "catalyst",
    "exec.fetch": "exec",
}
SELF_LAYERS = ("wait", "mb", "source", "catalyst", "exec", "sink", "registry")


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, rid: str, parent: int | None = None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "rid": rid}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it
        its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in self.spans:
            layer = LAYER.get(s["name"])
            if layer not in out:
                continue
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[layer] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressListener(StreamingQueryListener):
    """Keeps every progress report of the queries it is told to watch."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.watch: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if p.get("name") in self.watch:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def executed_batches(progress: list[dict]) -> list[dict]:
    """One report per executed batch (idle reports repeat a batch id and
    carry no ``addBatch`` time)."""
    seen, out = set(), []
    for p in progress:
        key = (p["runId"], p["batchId"])
        if "addBatch" in p.get("durationMs", {}) and key not in seen:
            seen.add(key)
            out.append(p)
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def stage_totals(spark, match) -> dict[str, float]:
    """Sum executor metrics over the stages whose job description
    satisfies ``match``, from the ``AppStatusStore``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList
    stages = store.stageList(empty(), False, False, sc._gateway.new_array(sc._jvm.double, 0), empty())
    tot = dict.fromkeys(
        ("run_s", "cpu_s", "gc_s", "tasks", "useful_tasks", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"), 0.0)
    for st in _seq(stages):
        desc = _opt(st.description())
        if desc is None or not match(desc):
            continue
        tot["run_s"] += st.executorRunTime() / 1e3
        tot["cpu_s"] += st.executorCpuTime() / 1e9
        tot["gc_s"] += st.jvmGcTime() / 1e3
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for task in _seq(store.taskList(st.stageId(), st.attemptId(), 1 << 20)):
            tot["tasks"] += 1
            m = _opt(task.taskMetrics())
            if m is not None and (
                m.inputMetrics().recordsRead() > 0 or m.shuffleReadMetrics().recordsRead() > 0
            ):
                tot["useful_tasks"] += 1
    return tot


def job_totals(spark, match) -> tuple[int, float]:
    """(jobs, summed wall seconds) of the jobs whose description satisfies
    ``match``."""
    sc = spark.sparkContext
    n, wall = 0, 0.0
    for job in _seq(sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())):
        desc = _opt(job.description())
        if desc is None or not match(desc):
            continue
        n += 1
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            wall += (done.getTime() - sub.getTime()) / 1e3
    return n, wall
