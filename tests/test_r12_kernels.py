"""Round-12 focused tests: the two Arrow kernels that replaced
relational pipelines must match independent brute-force references
(beyond the DuckDB oracle gate), and scoped persists must be released
across a sequential multi-query session (r11 verdict item 7)."""

from pyspark.sql import functions as F

from highload_kafka_streams_spark import registry
from highload_kafka_streams_spark.io import load_table


def test_rouge_kernel_matches_bruteforce(spark, sf_smoke):
    """Re-derive every ROUGE row from the raw documents with an
    independent Python implementation (sorted-merge clipped counting,
    not the kernel's Counter maps) and compare exactly."""
    docs = sorted(
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r)

    def clipped(a: list, b: list) -> int:
        # sorted two-pointer multiset intersection
        a, b = sorted(a), sorted(b)
        i = j = n = 0
        while i < len(a) and j < len(b):
            if a[i] == b[j]:
                n += 1
                i += 1
                j += 1
            elif a[i] < b[j]:
                i += 1
            else:
                j += 1
        return n

    expected = {}
    for rows in by_src.values():
        for k in range(0, len(rows) - 1, 2):  # rank k+1 odd pairs k+2
            cand, ref = rows[k], rows[k + 1]
            tc, tr = cand.text.split(" "), ref.text.split(" ")
            bc = [f"{x} {y}" for x, y in zip(tc, tc[1:])]
            br = [f"{x} {y}" for x, y in zip(tr, tr[1:])]
            i1, i2 = clipped(tc, tr), clipped(bc, br)
            nr, nb = len(tr), len(tr) - 1
            expected[cand.doc_id] = (
                ref.doc_id,
                nr,
                i1,
                i1 * 1000000 // nr,
                nb,
                i2,
                i2 * 1000000 // nb if nb else None,
            )

    got = registry.get_queries()["q_eval_rouge_overlap"](
        spark, sf_smoke
    ).collect()
    assert len(got) == len(expected)
    for r in got:
        assert expected[r.cand_id] == (
            r.ref_id,
            r.ref_unigrams,
            r.inter1,
            r.rouge1_ppm,
            r.ref_bigrams,
            r.inter2,
            r.rouge2_ppm,
        ), r


def test_matrix_profile_kernel_matches_bruteforce(spark, sf_smoke):
    """Brute-force the 577-window profile with exact Python ints (the
    kernel uses vectorized numpy) from the same hourly rollup and
    compare motif/discord readouts exactly."""
    from highload_kafka_streams_spark.plans.round6d import (
        _MP_EXCL,
        _MP_LEN,
        _MP_M,
    )

    ev = load_table(spark, sf_smoke, "events")
    hourly = (
        ev.groupBy(
            F.expr(
                "CAST(unix_micros(date_trunc('hour', ts)) DIV 3600000000"
                " AS BIGINT)"
            ).alias("x")
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("v")
        )
        .collect()
    )
    h0 = min(r.x for r in hourly)
    s = [0] * _MP_LEN
    for r in hourly:
        if r.x - h0 < _MP_LEN:
            s[r.x - h0] = r.v
    n_win = _MP_LEN - _MP_M + 1
    w = [s[i : i + _MP_M] for i in range(n_win)]
    pairs = []
    for i in range(n_win):
        for j in range(i + _MP_EXCL, n_win):
            d = sum((a - b) * (a - b) for a, b in zip(w[i], w[j]))
            pairs.append((i, j, d))
    motif = sorted(pairs, key=lambda p: (p[2], p[0], p[1]))[:5]
    best: dict = {}
    for i, j, d in pairs:
        for u, v in ((i, j), (j, i)):
            k = d * 1024 + v
            if u not in best or k < best[u]:
                best[u] = k
    discord = sorted(
        ((i, k % 1024, k // 1024) for i, k in best.items()),
        key=lambda p: (-p[2], p[0]),
    )[:5]
    # result order is orderBy(kind, rank): "discord" sorts before "motif"
    expected = [
        ("discord", r + 1, i, j, d) for r, (i, j, d) in enumerate(discord)
    ] + [("motif", r + 1, i, j, d) for r, (i, j, d) in enumerate(motif)]

    got = registry.get_queries()["q_ts_matrix_profile"](
        spark, sf_smoke
    ).collect()
    assert [(r.kind, r.rank, r.i, r.j, r.dist) for r in got] == expected


def test_scoped_persists_released_across_queries(spark, sf_smoke):
    """A sequential multi-query session must not accumulate
    storage-pool residue: every scoped_persist registered by query N is
    unpersisted when query N+1 builds, and release_persists() empties
    the cache manager at end of session."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    qs = registry.get_queries()
    for name in (
        "q_graph_hits",
        "q_alloc_fifo_inventory",
        "q_er_symspell_match",
        "q_agg_kmv_setops",
        "q_customer_rfm",
    ):
        qs[name](spark, sf_smoke).write.format("noop").mode(
            "overwrite"
        ).save()
        assert not cm.isEmpty()  # this query's own scoped caches live
    registry.release_persists()
    assert cm.isEmpty()


def test_direct_query_calls_release_previous_persists(spark, sf_smoke):
    """Calling a query through its module-level name (as the composing
    queries and the examples do) releases the previous query's scoped
    caches just as a registry call does, and a query composed of others
    keeps the caches it registered before its inner calls."""
    from highload_kafka_streams_spark.plans.round6b import q_alloc_fifo_inventory, q_graph_hits

    def cached(df):
        level = df.storageLevel  # read from the JVM's cache manager
        return level.useMemory or level.useDisk

    registry.release_persists()
    q_graph_hits(spark, sf_smoke)
    held = list(registry._tracked())
    assert held and all(cached(f) for f in held)
    q_alloc_fifo_inventory(spark, sf_smoke)
    assert not any(cached(f) for f in held)

    @registry.query("_t_composed")
    def composed(spark, sf_dir):
        own = registry.scoped_persist(spark.range(3))
        q_graph_hits(spark, sf_dir)
        assert cached(own)
        return own

    try:
        assert cached(composed(spark, sf_smoke))
    finally:
        registry.QUERIES.pop("_t_composed")
        registry.release_persists()
