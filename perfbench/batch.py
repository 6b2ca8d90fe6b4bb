"""The ``batch_headline`` workload: one client runs the headline queries in
a closed loop, each built through ``registry.get_queries()`` and its result
fetched with ``toPandas``.

Set-up is the session start and the registry load; there is no warm-up.
The registry load is repeated ``REGISTRY_LOADS`` times and its median
counts, so one slow load does not move ``setup_s``.
The measured pass is the first, cold one, and it is also the output check:
each oracle-backed query goes through ``plans.oracle.compare_one``, whose
``toPandas`` fetch is the timed execution, and the DuckDB side runs between
the timed spans; ``q_dedup_minhash_lsh`` has no oracle, so the hash of its
fetched result must equal the reference recorded in ``spec.json``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time
from dataclasses import dataclass

from highload_kafka_streams_spark import io as engine_io
from highload_kafka_streams_spark import registry
from highload_kafka_streams_spark.plans import oracle

import measure
import tracing

REGISTRY_LOADS = 3


def result_hash(df) -> str:
    """Order-insensitive hash of a result, canonicalized like the oracle
    check."""
    _, rows = oracle._canon(df.toPandas())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@contextlib.contextmanager
def pinned_lookups(queries: dict, oracle_sql: dict):
    """``compare_one`` looks queries up through ``registry.get_queries()``,
    which re-derives the registry's ledger order on every call (about
    1.5 s a call on a 4-core box). Serve it dicts taken once instead."""
    saved = registry.get_queries, registry.get_oracle_sql
    registry.get_queries, registry.get_oracle_sql = (lambda: queries), (lambda: oracle_sql)
    try:
        yield
    finally:
        registry.get_queries, registry.get_oracle_sql = saved


@dataclass
class Timing:
    """One query execution: build start, build end, plan end (traced runs
    force the physical plan), fetch end, and the engine's CPU seconds from
    build start to fetch end."""

    start: float
    built: float
    planned: float
    end: float
    cpu_s: float
    df: object


class Headline:
    def __init__(self, spark, sf_dir: str, names: list[str], table_rows: dict[str, int],
                 traced: bool, spans: tracing.Spans | None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.names = names
        self.table_rows = table_rows
        self.traced = traced
        self.spans = spans
        loads = []
        for _ in range(REGISTRY_LOADS):
            t = time.time()
            self.queries = registry.get_queries()
            loads.append(time.time() - t)
        self.registry_load_s = statistics.median(loads)

    def _describe(self, text: str | None) -> None:
        if self.traced:
            self.spark.sparkContext.setJobDescription(text)

    def _timed(self, name: str, clock: measure.CpuClock, timings: dict):
        """The query's build function, wrapped so that the build and the
        result fetch that follows it are timed into ``timings[name]``."""
        build = self.queries[name]

        def timed_build(spark, sf_dir):
            self._describe(f"perfbench|t0|{name}|build")
            t0, cpu0 = time.time(), clock.read()
            df = build(spark, sf_dir)
            t1 = planned = time.time()
            if self.traced:
                self._describe(f"perfbench|t0|{name}|plan")
                df._jdf.queryExecution().executedPlan()
                planned = time.time()
            self._describe(None)
            fetch = df.toPandas

            def timed_fetch():
                self._describe(f"perfbench|t0|{name}|exec")
                out = fetch()
                self._describe(None)
                timings[name] = Timing(t0, t1, planned, time.time(), clock.read() - cpu0, df)
                return out

            df.toPandas = timed_fetch
            return df

        return timed_build

    def measured_pass(self, clock: measure.CpuClock):
        """Run and check every headline query once, in order. Returns
        (timings by query, failure reason by query, result hash per
        no-oracle query); a query that raised or failed its check has a
        failure reason."""
        oracle_sql = registry.get_oracle_sql()
        con = oracle.duck_connect(self.sf_dir)
        timings: dict[str, Timing] = {}
        failures, digests = {}, {}
        queries = {name: self._timed(name, clock, timings) for name in self.names}
        try:
            with pinned_lookups(queries, oracle_sql):
                for name in self.names:
                    try:
                        if name in oracle_sql:
                            res = oracle.compare_one(self.spark, con, self.sf_dir, name)
                        else:  # checked against the reference hash by the caller
                            digests[name] = result_hash(queries[name](self.spark, self.sf_dir))
                            res = oracle.CompareResult(name, True, "hashed")
                    except Exception as exc:  # a raising query is a failed operation
                        res = oracle.CompareResult(name, False, f"raised {exc!r}")
                    if not res.ok:
                        failures[name] = res.detail
                    if name in timings:
                        t = timings[name]
                        measure.log(f"{name} {t.end - t.start:.3f} s, cpu {t.cpu_s:.3f} s")
        finally:
            con.close()
        if self.spans is not None:
            for name, t in timings.items():
                rid = f"t0:{name}"
                root = self.spans.add("request", t.start, t.end, rid)
                self.spans.add("registry.build", t.start, t.built, rid, root)
                self.spans.add("catalyst.plan", t.built, t.planned, rid, root)
                self.spans.add("exec.fetch", t.planned, t.end, rid, root)
        return timings, failures, digests

    def input_rows(self, df) -> int:
        """Rows of the input tables a query's plan scans."""
        rows = 0
        for path in df.inputFiles():
            if os.path.dirname(path).endswith(os.path.basename(self.sf_dir)):
                rows += self.table_rows.get(os.path.basename(path).removesuffix(".parquet"), 0)
        return rows

    def memo(self) -> tuple[int, float]:
        stats = engine_io.memo_stats()
        return (
            sum(stats["hits"].values()),
            sum(v["sec"] for v in stats["builds"].values()),
        )
