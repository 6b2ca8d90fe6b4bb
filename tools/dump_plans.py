#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/r<N>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> q_a q_b ...
(round N from $SPARK_GRAFT_ROUND, default 12)

Optimization evidence (guide §1/§7.2): the judge cannot run Spark, so
before/after plan shapes are committed as text. Queries whose
construction runs driver-loop jobs (set-cover, BFS, k-center...) still
produce a plan for the RETURNED frame; the loop cost is documented in
OPTIMIZATION_r<N>.md instead.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from highload_kafka_streams_spark import registry  # noqa: E402
from highload_kafka_streams_spark.session import get_spark  # noqa: E402


def main() -> None:
    # r11 advice item 3: running bare raised IndexError; an empty names
    # list silently wrote nothing — print usage and exit non-zero instead
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = int(os.environ.get("SPARK_GRAFT_ROUND", "12"))
    spark = get_spark(app_name="hks-plan-dump")
    queries = registry.get_queries()
    outdir = os.path.join(_HERE, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
