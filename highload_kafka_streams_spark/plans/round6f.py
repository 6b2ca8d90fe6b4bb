"""Round-6 continuation (f) — paired-classifier testing, ROC/threshold
operating points, shot-boundary detection, and rank correlation.

Same house rules as round6b-e (SURVEY.md §5): exact BIGINT arithmetic
or one deterministic fixed-point step per emitted value; `DIV`/`//`
integer division only (both engines truncate toward zero); md5 as the
portable randomness family; FLOOR∘SQRT on exact-integer doubles
< 2^53 is IEEE-identical cross-engine (the q_agg_gumbel_maxima isqrt
idiom); deterministic total orders under every LIMIT / row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist

# DuckDB twin of Spark's conv(hex, 16, 10) over a 12-char (48-bit)
# prefix — the q_agg_kmv_distinct recipe.
_DUCK_HEX12 = (
    "list_sum(list_transform(range(12), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, i + 1, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (11 - i)))))"
)

# ---------------------------------------------------------------------------
# q_eval_mcnemar — paired classifier comparison (McNemar's test)
# ---------------------------------------------------------------------------

# chi-square(1df) critical value at alpha=0.05, scaled by 1000 for the
# cross-multiplied significance rule
_CHI2_05_X1000 = 3841


@query(
    "q_eval_mcnemar",
    oracle=f"""
WITH t AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   % 1000 < 480 THEN 1 ELSE 0 END AS pa,
         CASE WHEN {_DUCK_HEX12.format(h="substr(md5('mcb:' || CAST(o_orderkey AS VARCHAR)), 1, 12)")}
                   % 1000 < 480 THEN 1 ELSE 0 END AS pb
  FROM orders
),
agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
              AS BIGINT) AS b_cnt,
         CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
              AS BIGINT) AS c_cnt,
         CAST(SUM(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS a_ok,
         CAST(SUM(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS b_ok
  FROM t GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST((a_ok * 1000000) // n AS BIGINT) AS acc_a_ppm,
       CAST((b_ok * 1000000) // n AS BIGINT) AS acc_b_ppm,
       b_cnt, c_cnt,
       CAST(CASE WHEN b_cnt + c_cnt = 0 THEN 0
                 ELSE ((abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1)
                       * 1000000) // (b_cnt + c_cnt) END AS BIGINT)
         AS chi2_fx,
       CASE WHEN b_cnt + c_cnt > 0
             AND (abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1) * 1000
                 >= {_CHI2_05_X1000} * (b_cnt + c_cnt)
            THEN 1 ELSE 0 END AS significant_05
FROM agg
ORDER BY o_orderpriority
""",
)
def q_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test — the PAIRED classifier comparison (are two
    models' error patterns different, not just their accuracies?):
    classifier A is a price-digit rule, classifier B an md5-derived
    rule, truth is order finality; the test uses only the DISCORDANT
    pair counts b (A right, B wrong) and c (A wrong, B right), with
    the continuity-corrected statistic (|b−c|−1)²/(b+c) — the right
    test when both models score the same rows (accuracy deltas ignore
    pairing; Cohen's κ measures agreement, not superiority). The
    significance flag is the exact cross-multiplied rule
    (|b−c|−1)²·1000 ≥ 3841·(b+c) — no division, no float chi-square.

    Scale shape: ONE corpus pass into a per-priority rollup (all five
    aggregates are algebraic, map-side combined); everything after is
    arithmetic on a 5-row table."""
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(
            F.expr(
                "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) % 1000"
            )
            < 480,
            1,
        )
        .otherwise(0)
        .alias("pa"),
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("mcb:"), F.col("o_orderkey").cast("string")
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % 1000
            < 480,
            1,
        )
        .otherwise(0)
        .alias("pb"),
    )
    agg = t.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("b_cnt"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("c_cnt"),
        F.sum(F.when(F.col("pa") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("a_ok"),
        F.sum(F.when(F.col("pb") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("b_ok"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.expr("CAST((a_ok * 1000000) DIV n AS BIGINT)").alias("acc_a_ppm"),
        F.expr("CAST((b_ok * 1000000) DIV n AS BIGINT)").alias("acc_b_ppm"),
        "b_cnt",
        "c_cnt",
        F.expr(
            "CAST(CASE WHEN b_cnt + c_cnt = 0 THEN 0"
            " ELSE ((abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1)"
            " * 1000000) DIV (b_cnt + c_cnt) END AS BIGINT)"
        ).alias("chi2_fx"),
        F.expr(
            f"CASE WHEN b_cnt + c_cnt > 0"
            f" AND (abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1)"
            f" * 1000 >= {_CHI2_05_X1000} * (b_cnt + c_cnt)"
            f" THEN 1 ELSE 0 END"
        ).alias("significant_05"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# q_eval_roc_curve — threshold operating points (ROC + precision/recall/F1)
# ---------------------------------------------------------------------------

_ROC_BUCKET = 100_000  # score-decile bucket width (score is 0..1e6 ppm)


@query(
    "q_eval_roc_curve",
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         ({_DUCK_HEX12.format(h="substr(md5('roc:' || CAST(o_orderkey AS VARCHAR)), 1, 12)")}
          % 1000001) // 2
         + CASE WHEN o_orderstatus = 'F' THEN 400000 ELSE 0 END AS score
  FROM orders
),
bk AS (
  SELECT score // {_ROC_BUCKET} AS bucket, y,
         CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS BIGINT) AS neg
  FROM bk
),
pts AS (
  SELECT t.t AS threshold_ppm,
         CAST(coalesce(SUM(CASE WHEN bk.y = 1
               AND bk.bucket >= t.t // {_ROC_BUCKET}
               THEN bk.cnt END), 0) AS BIGINT) AS tp,
         CAST(coalesce(SUM(CASE WHEN bk.y = 0
               AND bk.bucket >= t.t // {_ROC_BUCKET}
               THEN bk.cnt END), 0) AS BIGINT) AS fp
  FROM (SELECT unnest(range(1, 10)) * {_ROC_BUCKET} AS t) t
  LEFT JOIN bk ON TRUE
  GROUP BY t.t
)
SELECT CAST(threshold_ppm AS BIGINT) AS threshold_ppm, tp, fp,
       CAST((tp * 1000000) // tot.p AS BIGINT) AS tpr_ppm,
       CAST((fp * 1000000) // tot.neg AS BIGINT) AS fpr_ppm,
       CAST(CASE WHEN tp + fp = 0 THEN 0
                 ELSE (tp * 1000000) // (tp + fp) END AS BIGINT)
         AS precision_ppm,
       CAST(CASE WHEN tp = 0 THEN 0
                 ELSE (2 * ((tp * 1000000) // (tp + fp))
                         * ((tp * 1000000) // tot.p))
                      // (((tp * 1000000) // (tp + fp))
                          + ((tp * 1000000) // tot.p)) END AS BIGINT)
         AS f1_ppm
FROM pts, tot
ORDER BY threshold_ppm
""",
)
def q_eval_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC / precision-recall operating points at nine score
    thresholds — the threshold-selection table every deployed
    classifier needs (AUC ranks the model, q_eval_auc; THIS picks the
    cutoff): TPR, FPR, precision and F1 in exact ppm at each decile
    threshold. The score is an md5-derived ppm draw shifted by the
    true label (a deterministic stand-in for a model with real
    signal), so the curve is non-trivial and both engines replay it
    bit-for-bit. F1 is computed from the ALREADY-TRUNCATED ppm
    precision/recall (2PR//(P+R)) so the truncation lattice is
    identical cross-engine.

    Scale shape: ONE corpus pass into a (bucket, label) rollup of at
    most 22 rows (map-side combine); the nine thresholds join against
    that bounded table, never against the corpus — the threshold
    sweep costs O(1) after the single aggregation pass."""
    s = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (
            F.expr(
                "CAST(conv(substring(md5(concat('roc:',"
                " CAST(o_orderkey AS STRING))), 1, 12), 16, 10) AS BIGINT)"
                " % 1000001 DIV 2"
            )
            + F.when(F.col("o_orderstatus") == "F", 400000).otherwise(0)
        ).alias("score"),
    )
    bk = scoped_persist(
        s.groupBy(
            F.expr(f"score DIV {_ROC_BUCKET}").alias("bucket"), "y"
        )
        .agg(F.count("*").alias("cnt"))
    )
    tot = bk.agg(
        F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("y") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("neg"),
    )
    thresholds = spark.range(1, 10).select(
        (F.col("id") * _ROC_BUCKET).alias("threshold_ppm")
    )
    pts = (
        thresholds.crossJoin(bk)
        .groupBy("threshold_ppm")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("y") == 1)
                        & (
                            F.col("bucket")
                            >= F.expr(f"threshold_ppm DIV {_ROC_BUCKET}")
                        ),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("y") == 0)
                        & (
                            F.col("bucket")
                            >= F.expr(f"threshold_ppm DIV {_ROC_BUCKET}")
                        ),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("fp"),
        )
    )
    return (
        pts.crossJoin(F.broadcast(tot))
        .select(
            F.col("threshold_ppm").cast("long").alias("threshold_ppm"),
            "tp",
            "fp",
            F.expr("CAST((tp * 1000000) DIV p AS BIGINT)").alias("tpr_ppm"),
            F.expr("CAST((fp * 1000000) DIV neg AS BIGINT)").alias(
                "fpr_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN tp + fp = 0 THEN 0"
                " ELSE (tp * 1000000) DIV (tp + fp) END AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CASE WHEN tp = 0 THEN 0"
                " ELSE (2 * ((tp * 1000000) DIV (tp + fp))"
                " * ((tp * 1000000) DIV p))"
                " DIV (((tp * 1000000) DIV (tp + fp))"
                " + ((tp * 1000000) DIV p)) END AS BIGINT)"
            ).alias("f1_ppm"),
        )
        .orderBy("threshold_ppm")
    )


# ---------------------------------------------------------------------------
# q_multimodal_shot_boundary — frame-energy jump detection
# ---------------------------------------------------------------------------

_SB_FRAME = 32  # frame length (payload bytes standing in for samples)
_SB_HOP = 16    # 50% overlap, matching q_multimodal_frame_energy
_SB_JUMP_NUM = 5    # boundary when |ΔE| * 100 >= 5 * prev_energy
_SB_JUMP_DEN = 100


@query(
    "q_multimodal_shot_boundary",
    oracle=f"""
WITH framed AS (
  SELECT doc_id, f.f AS frame,
         CAST(list_sum(list_transform(range({_SB_FRAME}),
           i -> ord(substr(text, {_SB_HOP} * f.f + i + 1, 1))))
           AS BIGINT) AS energy
  FROM documents,
       (SELECT unnest(range(64)) AS f) f
  WHERE len(text) >= {_SB_HOP} * f.f + {_SB_FRAME}
),
d AS (
  SELECT doc_id, frame, energy,
         lag(energy) OVER (PARTITION BY doc_id ORDER BY frame) AS pe
  FROM framed
),
b AS (
  SELECT doc_id, frame
  FROM d
  WHERE pe IS NOT NULL AND pe > 0
    AND abs(energy - pe) * {_SB_JUMP_DEN} >= {_SB_JUMP_NUM} * pe
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_boundaries,
       CAST(min(frame) AS BIGINT) AS first_boundary
FROM b
GROUP BY doc_id
ORDER BY n_boundaries DESC, doc_id
LIMIT 20
""",
)
def q_multimodal_shot_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection — the video-segmentation primitive:
    scan each blob payload in 50%-overlapping frames (the
    q_multimodal_frame_energy framing), compute per-frame energy, and
    flag a boundary wherever the energy jumps ≥5% frame-over-frame
    (|ΔE|·100 ≥ 5·E_prev, cross-multiplied — no ratio division; 5%
    is deep in the tail of the payload's frame-delta distribution). Top-20
    most-segmented payloads with their first cut position. The decode
    step stays the documented deterministic stand-in (payload bytes as
    samples); the Spark-side plumbing — framing, per-key windows,
    threshold rule, top-k — is the real, value-hash-checked product.

    Scale shape: framing is a bounded explode (≤64 frames per doc, a
    constant); the lag rides ONE window partitioned by doc_id; the
    final top-20 plans TakeOrderedAndProject. No joins."""
    docs = load_table(spark, sf_dir, "documents")
    framed = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("frame"),
            "text",
        )
        .filter(
            F.length("text") >= F.col("frame") * _SB_HOP + _SB_FRAME
        )
        .select(
            "doc_id",
            "frame",
            F.expr(
                f"CAST(aggregate(sequence(0, {_SB_FRAME - 1}),"
                f" CAST(0 AS BIGINT), (acc, i) -> acc +"
                f" ascii(substring(text, {_SB_HOP} * frame + i + 1, 1)))"
                f" AS BIGINT)"
            ).alias("energy"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy("frame")
    d = framed.withColumn("pe", F.lag("energy").over(wd))
    b = d.filter(
        F.col("pe").isNotNull()
        & (F.col("pe") > 0)
        & (
            F.abs(F.col("energy") - F.col("pe")) * _SB_JUMP_DEN
            >= _SB_JUMP_NUM * F.col("pe")
        )
    )
    return (
        b.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_boundaries"),
            F.min("frame").cast("long").alias("first_boundary"),
        )
        .orderBy(F.col("n_boundaries").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_agg_kendall_tau — Kendall's τ-b rank correlation (tie-corrected)
# ---------------------------------------------------------------------------


@query(
    "q_agg_kendall_tau",
    oracle="""
WITH cell AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(abs(c_acctbal) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM customer GROUP BY 1, 2
),
idx AS (
  SELECT row_number() OVER (ORDER BY nk, seg) AS i, x, y FROM cell
),
pr AS (
  SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                         OR (a.x > b.x AND a.y > b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                         OR (a.x > b.x AND a.y < b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty,
         CAST(count(*) AS BIGINT) AS n0
  FROM idx a JOIN idx b ON b.i > a.i
)
SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
       tx AS ties_x, ty AS ties_y,
       CAST(((c - d) * 1000000)
            // CAST(FLOOR(SQRT(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)))
                    AS BIGINT) AS BIGINT) AS tau_b_fx
FROM pr
""",
)
def q_agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b (tie-corrected) between customer-count and total
    account-balance magnitude across the bounded (nation × segment)
    cell grid — the third rank-correlation axis after Pearson
    (q_agg_corr_cov) and Spearman (q_agg_spearman); τ counts
    concordant vs discordant PAIRS, so it is robust to monotone
    transforms and reads directly as a probability. The denominator
    √((n₀−t_x)(n₀−t_y)) uses the isqrt idiom (FLOOR∘SQRT on an exact
    integer double < 2^53 is IEEE-identical cross-engine, the
    q_agg_gumbel_maxima precedent), so τ·1e6 is one integer division.

    Scale shape: the corpus collapses to the ≤125-cell grid first
    (one map-side-combined rollup); the O(cells²) pair join is over
    the BOUNDED grid — the classic trick that makes pair statistics
    feasible at any corpus size (same lane as q_agg_hodges_lehmann's
    day-grain pairs)."""
    cell = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.count("*").alias("x"),
            F.sum(
                F.expr("CAST(FLOOR(abs(c_acctbal) * 100 + 0.5) AS BIGINT)")
            )
            .cast("long")
            .alias("y"),
        )
    )
    idx = scoped_persist(
        cell.select(
            F.row_number().over(Window.orderBy("nk", "seg")).alias("i"),
            "x",
            "y",
        )
    )
    b = idx.select(
        F.col("i").alias("j"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    pr = (
        idx.join(b, F.col("j") > F.col("i"))
        .agg(
            F.sum(
                F.when(
                    ((F.col("x") < F.col("bx")) & (F.col("y") < F.col("by")))
                    | (
                        (F.col("x") > F.col("bx"))
                        & (F.col("y") > F.col("by"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("c"),
            F.sum(
                F.when(
                    ((F.col("x") < F.col("bx")) & (F.col("y") > F.col("by")))
                    | (
                        (F.col("x") > F.col("bx"))
                        & (F.col("y") < F.col("by"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("d"),
            F.sum(F.when(F.col("x") == F.col("bx"), 1).otherwise(0))
            .cast("long")
            .alias("tx"),
            F.sum(F.when(F.col("y") == F.col("by"), 1).otherwise(0))
            .cast("long")
            .alias("ty"),
            F.count("*").alias("n0"),
        )
    )
    return pr.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        F.expr(
            "CAST(((c - d) * 1000000)"
            " DIV CAST(FLOOR(SQRT(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)))"
            " AS BIGINT) AS BIGINT)"
        ).alias("tau_b_fx"),
    )
