"""Seeded load generator: a separate, single-threaded process.

Preparation writes every input file into ``<work>/staged/<phase>/`` before
the engine starts, so none of it counts in the engine's set-up time:

- ``batch_headline``: the ten sf0.1-shaped tables (``tables.write_all``).
- ``stream_window_kafka``: ``events`` rows in Kafka wire shape (``key`` and
  ``value`` as JSON bytes, ``partition``, ``offset``, ``timestamp``). Arrival
  order is ``ts`` plus a seeded delay below ``max_delay_s``, which stays
  under the 10-minute watermark, so no row is ever late.

Then it reads commands from stdin, one per line, and answers each on
stdout:

- ``release <phase> [<i>]`` moves every file of the phase (or only its
  ``i``-th) into ``<work>/src/`` at once; the catch-up backlog is
  pre-released this way.
- ``live <t0>`` releases the live files on a fixed schedule that starts at
  wall-clock time ``t0`` and never slows for the engine (an open loop). It
  logs each file's due and actual release time to
  ``<work>/release_log.jsonl``.
- ``quit`` ends the process.

Every release is an atomic rename within one file system, and each staged
file's mtime is set in arrival order, so the file source sees whole files
in the intended order.

Run: ``python3 perfbench/gen.py --workload <name> --seed <n> --work <dir>
--seconds <live seconds>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")
PHASES = ("backlog", "recovery", "live")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _kafka_wire(block: pa.Table) -> pa.Table:
    """Serialize typed events as Kafka records (value = JSON bytes)."""
    d = block.to_pydict()
    ts_iso = [t.isoformat() for t in d["ts"]]
    keys, values = [], []
    for i in range(block.num_rows):
        keys.append(str(d["user_id"][i]).encode())
        values.append(
            json.dumps(
                {
                    "event_id": d["event_id"][i],
                    "ts": ts_iso[i],
                    "user_id": d["user_id"][i],
                    "event_type": d["event_type"][i],
                    "value": d["value"][i],
                    "props": d["props"][i],
                },
                separators=(",", ":"),
            ).encode()
        )
    user = np.asarray(d["user_id"], dtype=np.int64)
    partition = (user % 8).astype(np.int32)
    offset = np.zeros(len(user), dtype=np.int64)
    for p in range(8):
        sel = partition == p
        offset[sel] = np.arange(int(sel.sum()))
    return pa.table(
        {
            "key": pa.array(keys, type=pa.binary()),
            "value": pa.array(values, type=pa.binary()),
            "partition": pa.array(partition),
            "offset": pa.array(offset),
            "timestamp": block.column("ts"),
        }
    )


def file_counts(shape: dict, seconds: float) -> dict[str, int]:
    """Files per phase: the live phase releases ``live_files_per_s`` files
    a second for ``seconds``."""
    return {
        "backlog": shape["backlog_files"],
        "recovery": shape["restarts"],
        "live": round(shape["live_files_per_s"] * seconds),
    }


def arrival_order(seed: int, shape: dict, counts: dict[str, int]) -> pa.Table:
    """The rows the stream workload replays, in arrival order."""
    ev = tables.events(seed)
    n = sum(counts[p] * shape["rows_per_file"][p] for p in PHASES)
    block = ev.slice(0, n)
    rng = np.random.default_rng([seed, 101])
    ts_us = block.column("ts").cast(pa.int64()).to_numpy()
    delay = rng.integers(0, int(shape["max_delay_s"] * 1e6), n)
    order = np.argsort(ts_us + delay, kind="stable")
    return _kafka_wire(block.take(pa.array(order)))


def prepare(workload: str, seed: int, work: str, spec: dict, seconds: float) -> dict:
    """Write every staged file and the manifest; returns the manifest."""
    staged = os.path.join(work, "staged")
    if workload == "batch_headline":
        rows = tables.write_all(seed, os.path.join(work, "tables"))
        manifest = {"workload": workload, "tables": rows, "phases": {}}
    else:
        shape = spec["workloads"][workload]["shape"]
        counts = file_counts(shape, seconds)
        rows = arrival_order(seed, shape, counts)
        manifest = {"workload": workload, "phases": {}}
        pos, seq = 0, 0
        mtime0 = time.time_ns() - 3_600 * 10**9
        for phase in PHASES:
            os.makedirs(os.path.join(staged, phase), exist_ok=True)
            files = []
            for _ in range(counts[phase]):
                k = shape["rows_per_file"][phase]
                name = f"{phase}-{seq:05d}.parquet"
                path = os.path.join(staged, phase, name)
                pq.write_table(rows.slice(pos, k), path)
                stamp = mtime0 + seq * 10**6  # 1 ms apart, in arrival order
                os.utime(path, ns=(stamp, stamp))
                files.append({"name": name, "rows": k})
                pos += k
                seq += 1
            manifest["phases"][phase] = files
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def release(work: str, phase: str, names: list[str]) -> None:
    dst = os.path.join(work, "src")
    os.makedirs(dst, exist_ok=True)
    for name in names:
        os.rename(os.path.join(work, "staged", phase, name), os.path.join(dst, name))


def release_live(work: str, names: list[str], t0: float, seconds: float) -> None:
    """Open loop: file i is due at ``t0 + i * seconds / len(names)``."""
    dst = os.path.join(work, "src")
    step = seconds / len(names)
    with open(os.path.join(work, "release_log.jsonl"), "w") as log:
        for i, name in enumerate(names):
            due = t0 + i * step
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(work, "staged", "live", name), os.path.join(dst, name))
            log.write(json.dumps({"name": name, "due": due, "actual": time.time()}) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)

    t = time.perf_counter()
    manifest = prepare(args.workload, args.seed, args.work, load_spec(), args.seconds)
    print(f"ready {time.perf_counter() - t:.6f}", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "quit":
            break
        if cmd[0] == "release":
            names = [f["name"] for f in manifest["phases"][cmd[1]]]
            if len(cmd) > 2:  # one file of the phase, by index
                names = [names[int(cmd[2])]]
            release(args.work, cmd[1], names)
        elif cmd[0] == "live":
            names = [f["name"] for f in manifest["phases"]["live"]]
            release_live(args.work, names, float(cmd[1]), args.seconds)
        else:
            print(f"error unknown command {cmd[0]}", flush=True)
            return 2
        print("done", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
