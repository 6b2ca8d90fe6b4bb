"""Property-based tests (hypothesis): the determinism invariants the
oracle gate depends on, checked over generated data rather than the
fixtures — partition-order independence of fixed-point aggregates,
semantic transparency of salting, and MinHash signature stability.
"""

import math

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from highload_kafka_streams_spark.compat import dsum
from highload_kafka_streams_spark.llm.dedup import minhash_signatures
from highload_kafka_streams_spark.operators.skew import salted_agg_sum

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=200))
def test_dsum_is_partition_order_independent(spark, values):
    """dsum must give bit-identical results under ANY partitioning —
    the invariant that makes the cross-engine value-hash possible."""
    pdf = pd.DataFrame({"x": values})
    results = set()
    for n_part in (1, 3, 7):
        df = spark.createDataFrame(pdf).repartition(n_part)
        results.add(df.agg(dsum("x", "s")).first()["s"])
    assert len(results) == 1


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), finite_doubles), min_size=1, max_size=200
    ),
    st.integers(2, 16),
)
def test_salted_agg_equals_plain(spark, rows, n_salt):
    """Salting must be semantically invisible for any key skew and any
    salt fan-out."""
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    pdf["rid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    fixed_v = F.floor(F.col("v") * 10000 + F.lit(0.5)).cast("long")
    got = {
        (r["k"], r["s"], r["n_rows"])
        for r in salted_agg_sum(
            df, "k", fixed_v, "s", salt_from="rid", n_salt=n_salt
        ).collect()
    }
    want = {
        (r["k"], r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum(fixed_v).alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=3, max_size=40
)


@settings(max_examples=6, deadline=None)
@given(words)
def test_minhash_identical_docs_identical_signatures(spark, toks):
    """Two byte-identical documents must land in every one of each
    other's LSH buckets: signature equality is the dedup soundness
    floor (estimate(J=1) must be exactly 1)."""
    text = " ".join(toks)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [text, text]})
    )
    sigs = [r["sig"] for r in minhash_signatures(df).collect()]
    assert sigs[0] == sigs[1]


@settings(max_examples=6, deadline=None)
@given(words, st.integers(1, 5))
def test_minhash_signature_is_stable_across_partitionings(spark, toks, n_part):
    """Signatures must not depend on how the corpus is partitioned."""
    text = " ".join(toks)
    pdf = pd.DataFrame({"doc_id": range(8), "text": [text] * 8})
    a = minhash_signatures(spark.createDataFrame(pdf)).collect()
    b = minhash_signatures(
        spark.createDataFrame(pdf).repartition(n_part)
    ).collect()
    assert {(r["doc_id"], tuple(r["sig"])) for r in a} == {
        (r["doc_id"], tuple(r["sig"])) for r in b
    }


def test_stddev_moments_matches_two_pass(spark):
    """Integer-power-sum stddev ≡ numpy two-pass (to float tolerance) on
    a fixed pseudo-random sample — the formula check behind
    q_agg_stats_moments."""
    import numpy as np

    rng = np.random.default_rng(42)
    vals = np.round(rng.uniform(10, 1000, size=500), 1)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    s = F.floor(F.col("v") * 10 + 0.5).cast("long")
    n = F.count("*")
    var = (
        F.sum(s * s).cast("double")
        - F.sum(s).cast("double") * F.sum(s).cast("double") / n
    ) / (n - 1)
    got = df.agg((F.sqrt(var) / 10).alias("sd")).first()["sd"]
    assert math.isclose(got, float(np.std(vals, ddof=1)), rel_tol=1e-9)


asof_rows = st.lists(
    st.tuples(
        st.integers(0, 3),        # key
        st.integers(0, 1000),     # ts offset seconds
        finite_doubles,           # payload
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(asof_rows, asof_rows)
def test_asof_join_matches_naive_definition(spark, lrows, rrows):
    """The merge-form asof_join must equal the definitional form: for
    each left row the right row with max ts <= left.ts on the key."""
    from highload_kafka_streams_spark.operators.joins import asof_join

    base = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame(
        [
            (i, k, base + pd.Timedelta(seconds=s))
            for i, (k, s, _) in enumerate(lrows)
        ],
        columns=["lid", "k", "lts"],
    )
    # dedupe right per (k, ts): asof_join's documented precondition
    rpdf = (
        pd.DataFrame(
            [
                (k, base + pd.Timedelta(seconds=s), v)
                for (k, s, v) in rrows
            ],
            columns=["k", "rts", "v"],
        )
        .groupby(["k", "rts"], as_index=False)
        .agg(v=("v", "max"))
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    got = {
        (r["lid"], r["r_rts"], r["r_v"])
        for r in asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts"
        ).collect()
    }
    want = set()
    for _, lrow in lpdf.iterrows():
        cand = rpdf[(rpdf.k == lrow.k) & (rpdf.rts <= lrow.lts)]
        if len(cand):
            best = cand.loc[cand.rts.idxmax()]
            want.add((lrow.lid, best.rts.to_pydatetime(), best.v))
        else:
            want.add((lrow.lid, None, None))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),          # user
            st.integers(0, 1),          # type
            st.integers(0, 3600 * 3),   # seconds offset
        ),
        min_size=1,
        max_size=120,
    )
)
def test_windowed_dedup_keeps_exactly_first_per_bucket(spark, rows):
    """For ANY event set: one survivor per (user, type, 10-min bucket),
    and it is the (ts, event_id)-minimal row of that bucket."""
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "off"])
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["off"], unit="s")
    df = spark.createDataFrame(pdf.drop(columns=["off"]))

    from pyspark.sql.window import Window

    bucket = (F.unix_timestamp("ts") / 600).cast("long") * 600
    w = Window.partitionBy("user_id", "event_type", "bucket_s").orderBy(
        "ts", "event_id"
    )
    got = {
        (r["event_id"], r["user_id"], r["event_type"], r["bucket_s"])
        for r in df.withColumn("bucket_s", bucket)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "bucket_s")
        .collect()
    }
    # naive pandas twin
    pdf["bucket_s"] = (pdf["ts"].astype("int64") // 10**9 // 600) * 600
    first = (
        pdf.sort_values(["ts", "event_id"])
        .groupby(["user_id", "event_type", "bucket_s"], as_index=False)
        .first()
    )
    want = {
        (r.event_id, r.user_id, r.event_type, r.bucket_s)
        for r in first.itertuples()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=300, unique=True))
def test_hash_bucket_split_is_partition_independent(spark, keys):
    """Content-keyed bucketing must assign identical buckets under any
    partitioning — the invariant stratified sampling and train/holdout
    splits rely on (sampleBy would fail this)."""
    from highload_kafka_streams_spark.operators.sampling import hash_bucket

    pdf = pd.DataFrame({"k": keys})
    assignments = set()
    for n_part in (1, 5, 11):
        df = spark.createDataFrame(pdf).repartition(n_part)
        rows = frozenset(
            (r["k"], r["b"])
            for r in df.select("k", hash_bucket(F.col("k")).alias("b")).collect()
        )
        assignments.add(rows)
    assert len(assignments) == 1
    # every bucket in range
    assert all(0 <= b < 4096 for _, b in next(iter(assignments)))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(finite_doubles, min_size=1, max_size=300),
    st.data(),
)
def test_kth_smallest_matches_sorted_order(spark, values, data):
    """Histogram selection must return EXACTLY the k-th order statistic
    for any value distribution (duplicates, negatives, constant columns)
    and any recursion threshold — including thresholds that force the
    histogram loop to actually recurse."""
    from highload_kafka_streams_spark.operators.selection import kth_smallest

    k = data.draw(st.integers(1, len(values)))
    thresh = data.draw(st.sampled_from([1, 5, 10**6]))
    df = spark.createDataFrame(
        pd.DataFrame({"v": values})
    ).repartition(3)
    got = kth_smallest(df, "v", k, buckets=16, extract_threshold=thresh)
    assert got == sorted(values)[k - 1]


def test_kth_smallest_on_subnormal_range(spark):
    """A value range narrower than ``buckets`` subnormal steps makes the
    bucket width round to 0.0; selection must fall back to extraction
    instead of dividing by zero."""
    from highload_kafka_streams_spark.operators.selection import kth_smallest

    values = [0.0, 5e-324, 5e-324, 0.0, 1e-323]
    df = spark.createDataFrame(pd.DataFrame({"v": values})).repartition(2)
    for k in range(1, len(values) + 1):
        got = kth_smallest(df, "v", k, buckets=16, extract_threshold=1)
        assert got == sorted(values)[k - 1]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),            # user_id (few keys → interleaving)
            st.integers(0, 200_000),      # ts offset seconds (bursts + gaps)
            st.sampled_from(["a", "b", "c"]),
            st.floats(0, 100, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_debounce_state_machine_equals_declarative(spark, rows):
    """The applyInPandasWithState debounce processor (batch-replayed) and
    the lag/cumsum declarative implementation must agree on ARBITRARY
    event streams, not just the fixture — same bursts, same settled
    rows, same session numbering."""
    from pyspark.sql import Window

    from highload_kafka_streams_spark.streaming.stateful import (
        debounce_batch,
    )

    pdf = pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_id": list(range(len(rows))),
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=r[1])
                for r in rows
            ],
            "event_type": [r[2] for r in rows],
            "value": [r[3] for r in rows],
        }
    )
    ev = spark.createDataFrame(pdf)
    machine = {
        tuple(r)
        for r in debounce_batch(ev).collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn("session_id", F.sum("is_new").over(w))
    w_last = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    # mirror the processor's fixed-point value quantization
    declarative = {
        tuple(r)
        for r in sess.withColumn("rk", F.row_number().over(w_last))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "session_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            (F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long") / 10000.0
             ).alias("last_value"),
            F.col("ts").alias("settled_ts"),
        )
        .collect()
    }
    assert machine == declarative


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 10_000)),
        min_size=1,
        max_size=200,
    )
)
def test_presence_bitmap_merge_invariant(spark, rows):
    """OR-ing per-group presence bitmaps must equal the bitmap over the
    union, for ANY grouping — the exact re-aggregation property."""
    pdf = pd.DataFrame(
        {"g": [r[0] for r in rows], "uid": [r[1] for r in rows]}
    )
    df = spark.createDataFrame(pdf)
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(uid % 63 AS INT))")
    per_group = df.groupBy("g").agg(F.bit_or(bit).alias("bm"))
    merged = per_group.agg(F.bit_or("bm").alias("m")).first()["m"]
    direct = df.agg(F.bit_or(bit).alias("m")).first()["m"]
    assert merged == direct


@given(
    keys=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
    ),
    k=st.sampled_from([2, 3, 5]),
    n_part=st.sampled_from([1, 3, 8]),
)
@settings(max_examples=12, deadline=None)
def test_exact_ntile_desc_equals_global_ntile(spark, keys, k, n_part):
    """The bucketed two-pass exact ntile (r4 de-weak machinery behind
    q_customer_rfm) must equal Spark's own global ``ntile(k)`` window on
    adversarial inputs — heavy ties (keys drawn from a small domain, so
    many rows share a percentile cut value), any partitioning, and
    group sizes not divisible by k (big-buckets-first rule)."""
    from pyspark.sql import Window

    from highload_kafka_streams_spark.plans.composite import _exact_ntile_desc

    rows = [(i, kv) for i, kv in enumerate(keys)]
    df = spark.createDataFrame(rows, "tb long, key long").repartition(n_part)
    got = {
        (r["tb"], r["tile"])
        for r in _exact_ntile_desc(df, "key", "tb", "tile", k=k).collect()
    }
    want = {
        (r["tb"], r["tile"])
        for r in df.select(
            "tb",
            F.ntile(k)
            .over(Window.orderBy(F.col("key").desc(), F.col("tb")))
            .alias("tile"),
        ).collect()
    }
    assert got == want


@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=10**12), min_size=1, max_size=40
    )
)
@settings(max_examples=25, deadline=None)
def test_ses_integer_fold_matches_python_reference(spark, xs):
    """The SES fold's exact-⌊(3x+7s)/10⌋ trick (subtract mod-10, divide,
    recast — q_time_ses_forecast) must equal the straight Python integer
    recurrence for arbitrary non-negative fixed-point series."""
    want = xs[0]
    for x in xs[1:]:
        want = (3 * x + 7 * want) // 10

    df = spark.createDataFrame([(xs,)], "xs: array<long>")

    def _step(acc, x):
        s = 3 * x + 7 * acc
        return ((s - (s % 10)) / 10).cast("long")

    got = df.select(
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1),
            F.element_at(F.col("xs"), 1),
            _step,
        ).alias("level")
    ).collect()[0]["level"]
    assert got == want, (got, want)


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-10**9, max_value=10**9),
        ),
        min_size=1,
        max_size=60,
    ),
    rank_kind=st.sampled_from(["median", "p25", "max"]),
)
@settings(max_examples=15, deadline=None)
def test_grouped_kth_smallest_matches_sorted_reference(spark, data, rank_kind):
    """grouped_kth_smallest must agree with per-group sorted indexing for
    arbitrary ranks on arbitrary (including negative and duplicated)
    integer data."""
    from highload_kafka_streams_spark.operators.selection import (
        grouped_kth_smallest,
    )

    rank_of_n = {
        "median": lambda n: (n + 1) // 2,
        "p25": lambda n: (n + 3) // 4,
        "max": lambda n: n,
    }[rank_kind]
    df = spark.createDataFrame(data, "g string, v long")
    got = grouped_kth_smallest(df, "g", "v", rank_of_n)
    import collections

    by_g = collections.defaultdict(list)
    for g_, v_ in data:
        by_g[g_].append(v_)
    want = [
        (g_, len(vs), rank_of_n(len(vs)), sorted(vs)[rank_of_n(len(vs)) - 1])
        for g_, vs in sorted(by_g.items())
    ]
    assert got == want, (got, want)


def test_grouped_kth_smallest_group_cap_and_null_keys(spark):
    """r5 guards (VERDICT item 6 / ADVICE): the driver-state group cap
    raises a clear ValueError instead of accumulating unbounded driver
    state, the resolved-bracket invariant raises (not a stripped-under
    -O assert) when iterations are exhausted, and a NULL group key is a
    real group (null-safe bounds join) rather than a guaranteed trip of
    that invariant."""
    import pytest as _pytest

    from highload_kafka_streams_spark.operators.selection import (
        grouped_kth_smallest,
    )

    median = lambda n: (n + 1) // 2  # noqa: E731
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 7), ("c", 9)], "g string, v long"
    )
    with _pytest.raises(ValueError, match="max_groups"):
        grouped_kth_smallest(df, "g", "v", median, max_groups=2)

    # NULL group key: refines and resolves like any other group
    dfn = spark.createDataFrame(
        [(None, 10), (None, 30), (None, 20), ("a", 1), ("a", 100)],
        "g string, v long",
    )
    got = grouped_kth_smallest(dfn, "g", "v", median, buckets=2)
    assert got == [(None, 3, 2, 20), ("a", 2, 1, 1)], got

    # exhausted iterations surface as RuntimeError, not silent wrongness
    # median of {0, 1, 1e9}: round 1 narrows to bucket {0, 1} (lo≠hi),
    # so one iteration cannot resolve the bracket
    wide = spark.createDataFrame(
        [("a", 0), ("a", 1), ("a", 10**9)], "g string, v long"
    )
    with _pytest.raises(RuntimeError, match="unresolved"):
        grouped_kth_smallest(wide, "g", "v", median, buckets=2, max_iter=1)


def test_interval_scheduling_matches_python_greedy_at_sf01(spark):
    """q_events_interval_scheduling vs a straight Python greedy at sf0.1
    density — the DuckDB oracle's recursive formulation is only
    tractable at the driver's sf0.01 gate, so the sf0.1-density check
    (the r3-ADVICE lesson) runs against this independent reference
    instead."""
    import collections

    from highload_kafka_streams_spark.io import load_table
    from highload_kafka_streams_spark.registry import get_queries

    sf = "/root/testdata/sf0.1"
    got = {
        r.user_id: (r.n_events, r.max_nonoverlap)
        for r in get_queries()["q_events_interval_scheduling"](
            spark, sf
        ).collect()
    }
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")
    by_user = collections.defaultdict(list)
    for r in ev.collect():
        s = r.ts.timestamp()
        s_us = int(round(s * 1_000_000))
        e_us = s_us + int(r.value * 1_000_000 // 1)
        by_user[r.user_id].append((e_us, s_us))
    assert set(got) == set(by_user)
    for u, ivs in by_user.items():
        cnt, last = 0, -(1 << 62)
        for e, s in sorted(ivs):
            if s >= last:
                cnt += 1
                last = e
        assert got[u] == (len(ivs), cnt), (u, got[u], len(ivs), cnt)


def test_cell_local_cc_agrees_with_shared_cc(spark, sf_smoke):
    """r8 semantic-clusters rewrite soundness: the cell-grouped
    union-find (applyInPandas) must produce exactly the same
    (vec_id, cluster_root) assignment as the shared global iterative
    CC (duplicate_clusters) on the same mutual-kNN edge set — the
    rewrite is only valid because edges are cell-local by
    construction, and this pins that equivalence."""
    from highload_kafka_streams_spark.llm.dedup import duplicate_clusters
    from highload_kafka_streams_spark.plans.round6d import (
        _sc_cell_cc,
        _semantic_mutual_knn_edges,
    )

    edges = _semantic_mutual_knn_edges(spark, sf_smoke, with_cell=True)
    fast = {
        (r["vec_id"], r["cluster_root"])
        for r in edges.groupBy("blk", "sblk")
        .applyInPandas(_sc_cell_cc, "vec_id long, cluster_root long")
        .collect()
    }
    slow = {
        (r["doc_id"], r["cluster_root"])
        for r in duplicate_clusters(
            edges.select("doc_a", "doc_b")
        ).collect()
    }
    assert fast == slow


# ---------------------------------------------------------------------------
# r8 stable-matching band-kernel soundness
# ---------------------------------------------------------------------------

def _gs_pdf(edges):
    """Build the kernel's input frame from a set of (s, r) candidate
    pairs using the production key derivation (md5 of the same tagged
    strings), so preference orders are deterministic and collision-free
    exactly as in the query."""
    import hashlib

    rows = [
        {
            "band": "t",
            "s": s,
            "r": r,
            "ckey": hashlib.md5(f"c:{s}:{r}".encode()).hexdigest(),
            "rkey": hashlib.md5(f"r:{r}:{s}".encode()).hexdigest(),
        }
        for s, r in sorted(edges)
    ]
    return pd.DataFrame(
        rows, columns=["band", "s", "r", "ckey", "rkey"]
    )


def _sequential_gale_shapley(pdf):
    """Textbook sequential deferred acceptance over the kernel's own
    truncated lists (top-_GS_LIST by ckey): the reference the
    round-parallel protocol must agree with at convergence
    (McVitie-Wilson: the proposer-optimal stable matching is unique
    regardless of proposal order)."""
    from highload_kafka_streams_spark.plans.round6d import _GS_LIST

    pdf = pdf.sort_values(["s", "ckey"])
    pos = pdf.groupby("s").cumcount() + 1
    cand = pdf[pos <= _GS_LIST]
    lists = {}
    for s, r, rkey in zip(cand["s"], cand["r"], cand["rkey"]):
        lists.setdefault(int(s), []).append((int(r), rkey))
    nxt = {s: 0 for s in lists}
    held = {}  # r -> (rkey, s, 1-based rank in s's list)
    free = sorted(lists)
    while free:
        s = free.pop()
        while nxt[s] < len(lists[s]):
            r, rk = lists[s][nxt[s]]
            nxt[s] += 1
            cur = held.get(r)
            if cur is None or rk < cur[0]:
                if cur is not None:
                    free.append(cur[1])
                held[r] = (rk, s, nxt[s])
                break
    return {s: (r, rank) for r, (_rk, s, rank) in held.items()}


@settings(max_examples=40, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(0, 6), st.integers(0, 9)),
        min_size=1,
        max_size=50,
    )
)
def test_gs_kernel_invariants_and_proposer_optimal_fixpoint(edges):
    """The band kernel must (a) keep its counts mutually consistent on
    ANY instance, and (b) at convergence (n_active_end == 0) be both
    STABLE (its own blocking-pair audit finds nothing) and equal to
    textbook sequential Gale-Shapley on the same truncated lists —
    the McVitie-Wilson equivalence the rewrite's distribution argument
    rests on. Small instances (<=7 proposers x 8-deep lists) always
    converge inside the fixed _GS_ROUNDS budget."""
    from highload_kafka_streams_spark.plans.round6d import (
        _GS_LIST,
        _gs_band_kernel,
    )

    pdf = _gs_pdf(edges)
    out = _gs_band_kernel(pdf).iloc[0]
    n_prop = pdf["s"].nunique()
    assert out["n_proposers"] == n_prop
    assert out["n_receivers"] == pdf["r"].nunique()  # lists <= 10 <= 8+2
    assert (
        out["n_matched"]
        + out["n_exhausted_unmatched"]
        + out["n_active_end"]
        == n_prop
    )
    assert out["n_candidate_pairs"] == min(
        len(pdf), sum(min(c, _GS_LIST) for c in pdf.groupby("s").size())
    )
    if out["n_active_end"] == 0:
        assert out["n_blocking_pairs"] == 0
        want = _sequential_gale_shapley(pdf)
        assert out["n_matched"] == len(want)
        # the stable matching is UNIQUE (proposer-optimal), so the sum
        # of matched list ranks fingerprints the whole assignment
        assert out["sum_regret"] == sum(
            rank for (_r, rank) in want.values()
        )


def test_semantic_fused_kernel_equals_staged_pipeline(spark, sf_smoke):
    """r8 second-cut soundness: the fused per-cell kernel (numpy
    fixed-point dots -> top-k -> mutual -> union-find inside ONE
    applyInPandas) must reproduce the staged DataFrame pipeline
    (_semantic_mutual_knn_edges + _sc_cell_cc) exactly — the fixed-
    point replay claim is bit-level, so the assignments must be
    identical, not merely isomorphic."""
    from highload_kafka_streams_spark import registry
    from highload_kafka_streams_spark.plans.round6d import (
        _sc_cell_cc,
        _semantic_mutual_knn_edges,
    )

    fused = {
        (r["vec_id"], r["cluster_root"])
        for r in registry.get_queries()["q_embed_semantic_clusters"](
            spark, sf_smoke
        ).collect()
    }
    edges = _semantic_mutual_knn_edges(spark, sf_smoke, with_cell=True)
    staged = {
        (r["vec_id"], r["cluster_root"])
        for r in edges.groupBy("blk", "sblk")
        .applyInPandas(_sc_cell_cc, "vec_id long, cluster_root long")
        .collect()
    }
    assert fused == staged and len(fused) > 0
