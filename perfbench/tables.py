"""Seeded synthesis of the sf0.1-shaped fixture tables.

The benchmark never reads fixtures from outside its checkout, so it makes
its own: the ten tables the engine's ``io.TABLES`` names, with the row
counts, parquet physical types and value domains of the sf0.1 fixture
(one parquet file and one row group per table, microsecond timestamps
without a zone). Every table except ``documents`` is drawn from the run's
seed. ``documents`` is drawn from a fixed seed, because the one headline
query without an oracle (``q_dedup_minhash_lsh``) is checked against a
recorded result hash. ``compare_fixture.py`` checks these tables against a
real sf0.1 fixture directory on the headline queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
DOCUMENTS_SEED = 20240101
N_USERS = 1_500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_US_PER_DAY = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def events(seed: int) -> pa.Table:
    """The stream table: ``ts`` ascending over 30 days, ``event_id`` in
    ``ts`` order."""
    rng = np.random.default_rng([seed, 7])
    n = ROWS["events"]
    start = _us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()
            ),
        }
    )


def documents() -> pa.Table:
    """Word-soup texts with exact and near duplicates, for the dedup and
    text queries, shaped like the fixture's: about 5% of the documents are
    another document's text with the token ``dup`` appended (two of those
    with one source equal each other), and about 0.04% are an exact copy
    of another. Fixed seed (see module docstring)."""
    rng = np.random.default_rng(DOCUMENTS_SEED)
    n = ROWS["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    for i in range(n):
        r = rng.random()
        if r < 0.0004:
            texts[i] = texts[int(rng.integers(0, n))]
        elif r < 0.05:
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = ["en", "zh", "es", "fr", "de"]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, langs, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _tpch(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 11])
    n_s, n_c, n_p, n_o, n_l = (
        ROWS["supplier"], ROWS["customer"], ROWS["part"], ROWS["orders"], ROWS["lineitem"]
    )
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
                ),
            }
        ),
    }
    adjs = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adjs for b in nouns]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": _pick(rng, names, n_p),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_p),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)),
        }
    )
    day0, day1 = _us("1995-01-01") // _US_PER_DAY, _us("2001-08-01") // _US_PER_DAY
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_o)),
            "o_orderdate": _ts(rng.integers(day0, day1 + 1, n_o) * _US_PER_DAY),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
            ),
        }
    )
    sday0, sday1 = _us("1995-01-02") // _US_PER_DAY, _us("2001-11-04") // _US_PER_DAY
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_l)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_l), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_l), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": _ts(rng.integers(sday0, sday1 + 1, n_l) * _US_PER_DAY),
        }
    )
    return out


def embeddings(seed: int) -> pa.Table:
    """64-dim unit vectors around ten cluster centres."""
    rng = np.random.default_rng([seed, 13])
    n = ROWS["embeddings"]
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(scale=0.8, size=(n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_all(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tpch(seed)
    tables["events"] = events(seed)
    tables["documents"] = documents()
    tables["embeddings"] = embeddings(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
