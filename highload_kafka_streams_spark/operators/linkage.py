"""Entity resolution / record linkage operators.

Fuzzy matching at scale is a blocking problem: the naive form is a
levenshtein cross-join (O(n²) edit-distance calls — the DuckDB oracles
here run exactly that, which is why they stay oracles), and the
production form generates CANDIDATES through an index whose recall is
provable, then verifies only the candidates with the real distance.

This module implements the SymSpell delete-neighborhood index — the
standard spell-correction / canonicalization structure: every string s
expands to {s} ∪ {s with one character deleted}, two strings within
edit distance 1 are guaranteed to share at least one variant
(deletion → the variant equals the shorter string; insertion →
symmetric; substitution → both sides delete the differing position),
so an equi-join on the variant is a 100%-recall candidate generator
whose cost is linear in total string length, never quadratic in the
corpus. Candidates are then verified with the exact edit distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist


def _del_variants(col: str) -> F.Column:
    """{s} ∪ all single-character deletions of s, deduplicated.

    Pure projection (no shuffle): sequence(0, len) drives a transform
    where i = 0 keeps the string itself and i = k deletes character k.
    """
    return F.expr(
        f"array_distinct(transform(sequence(0, length({col})),"
        f" i -> if(i = 0, {col},"
        f" concat(substring({col}, 1, i - 1), substring({col}, i + 1)))))"
    )


@query(
    "q_er_symspell_match",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
v AS (
  SELECT t, CAST(count(*) AS BIGINT) AS freq
  FROM tok WHERE length(t) >= 3 GROUP BY t
),
dirty AS (
  SELECT DISTINCT
         substring(t, 1, CAST(freq % length(t) AS INTEGER))
         || substring(t, CAST(freq % length(t) AS INTEGER) + 2) AS d
  FROM v
),
cand AS (
  SELECT dirty.d AS dirty_tok, v.t AS canon_tok,
         CAST(levenshtein(dirty.d, v.t) AS BIGINT) AS lev,
         v.freq
  FROM dirty JOIN v ON levenshtein(dirty.d, v.t) <= 1
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY dirty_tok
                               ORDER BY freq DESC, canon_tok) AS rn
  FROM cand
)
SELECT dirty_tok, canon_tok, lev, freq AS canon_freq
FROM best WHERE rn = 1
ORDER BY dirty_tok
""",
)
def q_er_symspell_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell fuzzy canonicalization: map corrupted tokens back to the
    highest-frequency vocabulary term within edit distance 1 — the
    OCR-noise / typo normalization pass of a text-cleaning pipeline,
    and the same candidate-generation structure a blocked
    record-linkage join uses for names.

    The corrupted observations are derived deterministically (each
    vocabulary term loses the character at position freq mod length, a
    frequency-seeded corruption both engines compute identically), so
    the MATCHING problem is real: a dirty token can sit within distance
    1 of several canonicals and the argmax-by-frequency decides.

    Engine plan (the part under test): both sides expand to their
    delete-neighborhood {s} ∪ del1(s) as a pure projection, candidates
    come from the variant equi-join (provably ⊇ all pairs within
    distance 1 — the SymSpell guarantee), the exact `levenshtein` runs
    ONLY on candidates, and one bounded window (partitioned by dirty
    token) picks the winner. Linear in vocabulary size; the quadratic
    levenshtein join exists only in the DuckDB oracle. At 100 TB the
    vocabulary table is millions of rows, the variant explosion is
    ~(len+1)× that, and every shuffle keys on a short token — this is
    exactly how SymSpell scales where a distance cross-join cannot."""
    from highload_kafka_streams_spark.registry import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") >= 3)
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    vocab = scoped_persist(vocab)
    dirty = vocab.select(
        F.concat(
            F.expr("substring(t, 1, CAST(freq % length(t) AS INT))"),
            F.expr("substring(t, CAST(freq % length(t) AS INT) + 2)"),
        ).alias("d")
    ).distinct()
    d_var = dirty.select("d", F.explode(_del_variants("d")).alias("variant"))
    v_var = vocab.select(
        "t", "freq", F.explode(_del_variants("t")).alias("variant")
    )
    # r12 NEGATIVE RESULTS (measured in paired A/B windows with the
    # set-cover control, both reverted — the r6 shape stands):
    # (a) groupBy(d).agg(min(struct(-freq, t))) instead of the
    #     distinct + rn=1 window: a struct extremum is not
    #     hash-aggregable, so the plan degraded to two full
    #     SortAggregates (0.80 → 1.40 s / 0.94 → 1.20 s);
    # (b) dropping only the .distinct() and keeping the window
    #     (rn = 1 is duplicate-insensitive in VALUES): still slower
    #     (0.66 → 0.97 s same-window) — near-identical tokens share
    #     most delete variants, so the join output carries heavy
    #     duplication and the distinct's MAP-SIDE partial aggregate
    #     dedupes before the exchange, cheaper than shuffling the
    #     duplicates into the WindowGroupLimit's local sort.
    cand = (
        d_var.join(v_var, "variant")
        .select("d", "t", "freq")
        .distinct()
        .filter(F.levenshtein(F.col("d"), F.col("t")) <= 1)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("d").orderBy(F.desc("freq"), F.asc("t"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("dirty_tok"),
            F.col("t").alias("canon_tok"),
            F.levenshtein(F.col("d"), F.col("t")).cast("long").alias("lev"),
            F.col("freq").alias("canon_freq"),
        )
        .orderBy("dirty_tok")
    )


@query(
    "q_er_fellegi_sunter",
    oracle="""
WITH c AS (
  SELECT c_custkey AS ck, c_nationkey AS nat,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) // 10000 AS hb,
         c_custkey % 10 AS kb
  FROM customer
),
s AS (
  SELECT s_suppkey AS sk, s_nationkey AS nat,
         CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) // 10000 AS hb,
         s_suppkey % 10 AS kb
  FROM supplier
),
den AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM c)
         * (SELECT CAST(count(*) AS BIGINT) FROM s) AS de
),
u_hb AS (
  SELECT CAST(SUM(cc.n * ss.n) AS BIGINT) AS nu
  FROM (SELECT hb, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY hb) cc
  JOIN (SELECT hb, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY hb) ss
    ON cc.hb = ss.hb
),
u_kb AS (
  SELECT CAST(SUM(cc.n * ss.n) AS BIGINT) AS nu
  FROM (SELECT kb, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY kb) cc
  JOIN (SELECT kb, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY kb) ss
    ON cc.kb = ss.kb
),
w AS (
  SELECT
    CAST(FLOOR(ln(CAST(9 * den.de AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(FLOOR(ln(CAST(10 * u_hb.nu AS DOUBLE)) * 1000000) AS BIGINT)
      AS wa_hb,
    CAST(FLOOR(ln(CAST(den.de AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(FLOOR(ln(CAST(10 * (den.de - u_hb.nu) AS DOUBLE)) * 1000000)
             AS BIGINT) AS wd_hb,
    CAST(FLOOR(ln(CAST(9 * den.de AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(FLOOR(ln(CAST(10 * u_kb.nu AS DOUBLE)) * 1000000) AS BIGINT)
      AS wa_kb,
    CAST(FLOOR(ln(CAST(den.de AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(FLOOR(ln(CAST(10 * (den.de - u_kb.nu) AS DOUBLE)) * 1000000)
             AS BIGINT) AS wd_kb
  FROM den, u_hb, u_kb
),
scored AS (
  SELECT c.ck, s.sk,
         (c.hb = s.hb) AS agree_hb,
         (c.kb = s.kb) AS agree_kb,
         (CASE WHEN c.hb = s.hb THEN w.wa_hb ELSE w.wd_hb END
          + CASE WHEN c.kb = s.kb THEN w.wa_kb ELSE w.wd_kb END)
           AS score_fx
  FROM c JOIN s ON c.nat = s.nat, w
)
SELECT ck AS custkey, sk AS suppkey, agree_hb, agree_kb, score_fx
FROM scored
ORDER BY score_fx DESC, ck, sk
LIMIT 20
""",
)
def q_er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage: candidate
    customer↔supplier pairs (blocked on nation) scored by the sum of
    per-field log-likelihood weights ln(m/u) for agreements and
    ln((1−m)/(1−u)) for disagreements — the 1969 framework behind
    every production ER engine (Splink et al.), here with the
    u-probabilities ESTIMATED FROM THE DATA as real linkers do:
    u_f = Σ_v cC_v·cS_v / (|C|·|S|), the chance a random cross pair
    agrees on field f. With m fixed at 9/10, every weight is a
    difference of fixed-point logs of exact INTEGER products
    (ln(9·den)−ln(10·num) — the q_text_js_divergence trick), so pair
    scores are exact BIGINTs and the top-20 ranking has no float
    anywhere.

    Scale shape: u-estimation is two value-keyed rollups joined on the
    bounded field domains; the 1-row weight table broadcasts; blocking
    bounds the candidate join (nation blocks, the q_dedup machinery's
    band-bucket argument — NEVER all-pairs); top-20 is a
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) DIV 10000"
        ).alias("hb"),
        (F.col("c_custkey") % 10).alias("kb"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"),
        F.col("s_nationkey").alias("nat"),
        F.expr(
            "CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) DIV 10000"
        ).alias("hb"),
        (F.col("s_suppkey") % 10).alias("kb"),
    )
    c = scoped_persist(c)
    s = scoped_persist(s)

    def u_num(field):
        cc = c.groupBy(field).agg(F.count("*").alias("n_c"))
        ss = s.groupBy(field).agg(F.count("*").alias("n_s"))
        return cc.join(ss, field).agg(
            F.sum(F.col("n_c") * F.col("n_s")).cast("long").alias("nu")
        )

    lnfx = lambda col: F.floor(
        F.log(col.cast("double")) * 1000000
    ).cast("long")
    den = c.agg(F.count("*").alias("n_c")).crossJoin(
        s.agg(F.count("*").alias("n_s"))
    ).select((F.col("n_c") * F.col("n_s")).cast("long").alias("de"))
    w = (
        den.crossJoin(u_num("hb").withColumnRenamed("nu", "nu_hb"))
        .crossJoin(u_num("kb").withColumnRenamed("nu", "nu_kb"))
        .select(
            (lnfx(9 * F.col("de")) - lnfx(10 * F.col("nu_hb"))).alias(
                "wa_hb"
            ),
            (
                lnfx(F.col("de"))
                - lnfx(10 * (F.col("de") - F.col("nu_hb")))
            ).alias("wd_hb"),
            (lnfx(9 * F.col("de")) - lnfx(10 * F.col("nu_kb"))).alias(
                "wa_kb"
            ),
            (
                lnfx(F.col("de"))
                - lnfx(10 * (F.col("de") - F.col("nu_kb")))
            ).alias("wd_kb"),
        )
    )
    agree_hb = F.col("c.hb") == F.col("s.hb")
    agree_kb = F.col("c.kb") == F.col("s.kb")
    scored = (
        c.alias("c")
        .join(s.alias("s"), F.col("c.nat") == F.col("s.nat"))
        .crossJoin(F.broadcast(w))
        .select(
            F.col("c.ck").alias("custkey"),
            F.col("s.sk").alias("suppkey"),
            agree_hb.alias("agree_hb"),
            agree_kb.alias("agree_kb"),
            (
                F.when(agree_hb, F.col("wa_hb")).otherwise(F.col("wd_hb"))
                + F.when(agree_kb, F.col("wa_kb")).otherwise(F.col("wd_kb"))
            ).alias("score_fx"),
        )
    )
    return scored.orderBy(
        F.desc("score_fx"), F.asc("custkey"), F.asc("suppkey")
    ).limit(20)
