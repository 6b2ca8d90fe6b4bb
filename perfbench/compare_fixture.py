"""Compare the generated tables with a fixture directory on the headline
queries: per-query result rows and cold-pass time on each.

The benchmark makes its own sf0.1-shaped tables (``tables.py``) because it
reads nothing outside its checkout. This tool checks that substitution
against a real sf0.1 fixture directory. Each pass runs in a fresh process
(a cold JVM), alternating fixture and generated tables:

    python3 perfbench/compare_fixture.py --fixture <sf0.1 dir> --seed 1 --repeat 2

It prints one line per query and, last, one JSON object with both sides.
Files it writes live under ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import run


def cold_pass(sf_dir: str) -> dict:
    """One cold pass over the headline queries: per query, build-to-fetch
    seconds and result rows."""
    import batch
    from highload_kafka_streams_spark.session import get_spark

    names = run.load_json(os.path.join(run.HERE, "spec.json"))["headline"]
    spark = get_spark(master="local[4]")
    try:
        h = batch.Headline(spark, sf_dir, names, {}, False, None)
        out = {}
        for name in names:
            t0 = time.time()
            rows = len(h.queries[name](spark, sf_dir).toPandas())
            out[name] = {"s": time.time() - t0, "rows": rows}
        return out
    finally:
        run.stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--fixture", required=True, help="directory of the sf0.1 fixture tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--pass-dir", help=argparse.SUPPRESS)  # child: one cold pass
    args = ap.parse_args(argv)
    work = os.path.join(run.ROOT, ".perfbench_work", f"compare-{os.getpid()}")
    os.makedirs(work)
    try:
        run.prepare_env(work)
        if args.pass_dir:
            print(json.dumps(cold_pass(args.pass_dir)))
            return 0
        import tables

        generated = os.path.join(work, "tables")
        tables.write_all(args.seed, generated)
        sides = {"fixture": os.path.abspath(args.fixture), "generated": generated}
        passes: dict[str, list[dict]] = {k: [] for k in sides}
        for _ in range(args.repeat):
            for side, sf_dir in sides.items():
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--fixture", args.fixture,
                     "--pass-dir", sf_dir], stdout=subprocess.PIPE, text=True, check=True)
                passes[side].append(json.loads(out.stdout.strip().splitlines()[-1]))
                print(f"{side} cold pass {sum(q['s'] for q in passes[side][-1].values()):.2f} s",
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result: dict = {"seed": args.seed, "repeat": args.repeat, "queries": {}, "cold_pass_s": {}}
    for side, ps in passes.items():
        result["cold_pass_s"][side] = [round(sum(q["s"] for q in p.values()), 2) for p in ps]
    print(f"{'query':34s} {'rows fixture':>12s} {'rows generated':>14s} {'s fixture':>9s} {'s generated':>11s}")
    for name in passes["fixture"][0]:
        row = {}
        for side, ps in passes.items():
            row[f"rows_{side}"] = ps[0][name]["rows"]
            row[f"s_{side}"] = round(statistics.median(p[name]["s"] for p in ps), 3)
        result["queries"][name] = row
        print(f"{name:34s} {row['rows_fixture']:12d} {row['rows_generated']:14d} "
              f"{row['s_fixture']:9.3f} {row['s_generated']:11.3f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t = time.time()
    code = main()
    print(f"done in {time.time() - t:.0f} s", file=sys.stderr)
    sys.exit(code)
