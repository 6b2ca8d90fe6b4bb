"""The benchmark's own tests; no Spark needed.

Run: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import tables  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    RUN_SECONDS = json.load(_f)["run_seconds"]  # the live phase's length


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(directory):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                out[os.path.relpath(os.path.join(dirpath, name), directory)] = (
                    hashlib.sha256(f.read()).hexdigest()
                )
    return out


@pytest.mark.parametrize("workload", ["stream_window_kafka", "batch_headline"])
def test_generator_is_deterministic_for_a_seed(tmp_path, workload):
    spec = gen.load_spec()
    runs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        work = tmp_path / tag
        work.mkdir()
        manifest = gen.prepare(workload, seed, str(work), spec, seconds=RUN_SECONDS)
        runs[tag] = (_digest(str(work)), manifest)
    assert runs["a"] == runs["b"]
    assert runs["a"][0] != runs["c"][0]
    if workload == "batch_headline":
        return
    counts = gen.file_counts(spec["workloads"][workload]["shape"], RUN_SECONDS)
    assert counts["live"] >= 200  # ten samples beyond the p95
    for phase, files in runs["a"][1]["phases"].items():
        assert len(files) == counts[phase]


def test_tables_are_deterministic_for_a_seed():
    assert tables.events(3).equals(tables.events(3))
    assert not tables.events(3).equals(tables.events(4))
    assert tables.documents().equals(tables.documents())


def test_window_arrival_delay_stays_under_watermark():
    shape = gen.load_spec()["workloads"]["stream_window_kafka"]["shape"]
    assert shape["max_delay_s"] < 600  # the topology's 10-minute watermark
    rows = gen.arrival_order(7, shape, gen.file_counts(shape, RUN_SECONDS))
    ts = rows.column("timestamp").cast("int64").to_numpy()
    # a row may arrive after rows with later event time, but never after
    # one more than max_delay_s later
    running_max = ts.copy()
    for i in range(1, len(ts)):
        running_max[i] = max(running_max[i - 1], ts[i])
    assert (running_max - ts).max() < shape["max_delay_s"] * 1_000_000


def _write(path, lines: list[str], mtime: float | None = None) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _offsets(ckpt, batch: int, log_offset: int) -> None:
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
    _write(ckpt / "offsets" / str(batch),
           ["v1", json.dumps(meta), json.dumps({"logOffset": log_offset})])


def _source_entry(name: str, n: int) -> str:
    return json.dumps({"path": f"file:///src/{name}", "timestamp": 0, "batchId": n})


def test_file_latency_from_synthetic_checkpoint(tmp_path):
    """Micro-batch 1 is a no-data batch, so the file source's log offsets
    (0, 1, 2) and the micro-batch ids (0, 2, 3) drift apart; offsets 0 and
    1 were folded into a compact file."""
    ckpt = tmp_path / "ckpt"
    src = ckpt / "sources" / "0"
    _write(src / "1.compact", ["v1", _source_entry("a", 0), _source_entry("b", 1),
                               _source_entry("c", 1)])
    _write(src / "2", ["v1", _source_entry("d", 2)])
    for batch, log_offset in ((0, 0), (1, 0), (2, 1), (3, 2)):
        _offsets(ckpt, batch, log_offset)
    for batch, t in ((0, 100.0), (1, 101.0), (2, 103.5)):  # batch 3 uncommitted
        _write(ckpt / "commits" / str(batch), ["v1", "{}"], mtime=t)

    assert measure.file_batches(str(ckpt)) == {"a": 0, "b": 2, "c": 2, "d": 3}
    due = {"a": 99.0, "b": 102.0, "c": 102.5, "d": 104.0}
    lat = measure.file_latencies(str(ckpt), due)
    assert lat["a"] == pytest.approx(1.0)
    assert lat["b"] == pytest.approx(1.5)
    assert lat["c"] == pytest.approx(1.0)
    assert lat["d"] is None  # never committed: a failed operation


def test_tail_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(200)]
    assert measure.tail_percentile(values, 0.95) == pytest.approx(measure.percentile(values, 0.95))
    with pytest.raises(ValueError):
        measure.tail_percentile(values[:199], 0.95)
    with pytest.raises(ValueError):
        measure.tail_percentile([1.0] * 999, 0.99)


def test_live_start_is_on_the_trigger_grid():
    sys.path.insert(0, os.path.dirname(HERE))
    import streams

    for now in (1000.0, 1000.4, 1002.3, 1002.33, 1003.0):
        t = streams.live_start(now, 3)
        assert (t - streams.LIVE_PHASE_S) % 3 == pytest.approx(0.0, abs=1e-9)
        assert now + 0.2 <= t < now + 0.2 + 3


def test_percentile_interpolates():
    assert measure.percentile([4.0, 1.0, 3.0, 2.0], 0.5) == pytest.approx(2.5)
    assert measure.percentile([1.0], 0.95) == 1.0


def test_cpu_clock_interpolates_between_samples():
    clock = measure.CpuClock(os.getpid())
    clock.times, clock.cpu = [10.0, 11.0, 12.0], [5.0, 6.0, 8.0]
    assert clock.at(11.5) == pytest.approx(7.0)
    assert clock.between(10.5, 12.0) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        clock.at(12.5)  # after the last sample


def test_cpu_clock_counts_a_child_that_has_exited():
    import subprocess

    clock = measure.CpuClock(os.getpid())
    before = clock.read()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert clock.read() - before >= 0.25  # the reaped child's CPU stays in the total
