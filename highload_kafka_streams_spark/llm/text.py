"""Text analysis for LLM training-data pipelines (SURVEY.md §2.11;
sentiment/text-stats grounding per PAPERS.md:6).

Token counting, TF-IDF, quality scoring, language ID, and document
fingerprinting — all over ``documents``, all pure built-in expressions
(tokenization is ``split`` + ``explode``; scoring is arithmetic), so the
hot path is whole-stage-codegen JVM even when the corpus is 100 TB.
The per-term state (document frequencies) is itself a DataFrame joined
back in — never a driver-side dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from highload_kafka_streams_spark.io import load_table
from highload_kafka_streams_spark.registry import query, scoped_persist


@query(
    "q_text_token_counts",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks
GROUP BY token
HAVING count(*) >= 10
ORDER BY token
""",
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies (whitespace tokenizer)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # two-level agg: per-(doc, token) partials first, so the token-level
    # shuffle carries one row per doc×term instead of one per occurrence,
    # and df is a plain count (no countDistinct state) over the partials
    per_doc = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return (
        per_doc.groupBy("token")
        .agg(F.sum("c").alias("tf"), F.count("*").alias("df"))
        .filter(F.col("tf") >= 10)
        .orderBy("token")
    )


@query(
    "q_text_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
FROM tf JOIN df ON tf.token = df.token, n
WHERE tf.doc_id < 20 AND df.df >= 2
ORDER BY tf.doc_id, tf.token
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: two aggregations + a join — the document-frequency table is
    a DataFrame, broadcast when small, shuffled when the vocab is big."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # document frequency by hash-aggregating the tf table (one row per
    # doc×token, so count(*) per token IS count(distinct doc)). A window
    # count over token LOOKS like it saves this join's shuffle, but
    # WindowExec must SORT every partition by token while the hash agg
    # doesn't, and the doc_id filter can't push below a window — A/B at
    # sf0.1: window 1.15 s vs groupBy+join 1.01 s warm (7.2 s vs 1.7 s
    # cold). The filtered tf side is tiny, so AQE broadcasts it into
    # the join.
    df = tf.groupBy("token").agg(F.count("*").alias("df")).filter(
        F.col("df") >= 2
    )
    # corpus size as an in-plan broadcast 1-row aggregate (no driver-side
    # scalar action — the whole query stays one job)
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.filter(F.col("doc_id") < 20)
        .join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                9,
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "token")
    )


STOPWORDS = {
    "en": ["the", "and", "for", "with", "that", "this", "are", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


@query(
    "q_text_quality",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / n_tokens
         AS short_token_ratio,
       CAST(len(list_filter(toks,
             x -> list_contains(['the','and','for','with','that','this','are','was'], x)))
            AS DOUBLE) / n_tokens AS en_stopword_ratio,
       (n_tokens >= 5 AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 2 AND 12)
         AS passes_quality
FROM t
ORDER BY doc_id
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length stats, short-token ratio, stopword
    density, and a composite keep/drop flag — the standard pre-training
    corpus filter shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    avg_tok = F.col("n_chars").cast("double") / n_tokens
    en_sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        (
            F.size(F.filter(toks, lambda x: F.length(x) <= 2)).cast("double")
            / n_tokens
        ).alias("short_token_ratio"),
        (
            F.size(
                F.filter(toks, lambda x: F.array_contains(en_sw, x))
            ).cast("double")
            / n_tokens
        ).alias("en_stopword_ratio"),
        ((n_tokens >= 5) & avg_tok.between(2.0, 12.0)).alias("passes_quality"),
    ).orderBy("doc_id")


@query(
    "q_text_langid",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','for','with','that','this','are','was'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas','une','des'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','es','una','por','con'], x))) AS s_es
  FROM t
)
SELECT doc_id, lang AS label_lang,
       CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM scored
ORDER BY doc_id
""",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram-heuristic family): score each
    language's marker-word hits, argmax with a fixed precedence order so
    ties resolve identically everywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def score(lang: str):
        arr = F.array([F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    s_en, s_de, s_fr, s_es = (score(lang) for lang in ("en", "de", "fr", "es"))
    pred = (
        F.when(s_en + s_de + s_fr + s_es == 0, "und")
        .when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), "en")
        .when((s_de >= s_fr) & (s_de >= s_es), "de")
        .when(s_fr >= s_es, "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id", F.col("lang").alias("label_lang"), pred.alias("pred_lang")
    ).orderBy("doc_id")


@query(
    "q_text_fingerprint",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_transform(
           range(greatest(len(string_split(text,' ')) - 4, 1)),
           i -> md5(array_to_string(string_split(text,' ')[i+1:i+5], ' '))
         ) AS gram_hashes
  FROM documents
)
SELECT doc_id,
       list_min(gram_hashes) AS fingerprint,
       len(gram_hashes) AS n_grams
FROM sh
ORDER BY doc_id
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (winnowing-style): minimum md5 over word
    5-gram shingles — md5 is engine-portable, so even the fingerprint is
    oracle-checked. Two docs sharing a fingerprint almost surely share a
    5-gram window."""
    d = load_table(spark, sf_dir, "documents")
    # token array and gram-hash array are materialized as their own
    # projection stages: lambda bodies re-evaluate outer expressions per
    # array element, and a twice-referenced transform would run twice —
    # staged attribute refs make both O(1) (measured 6× on sf0.1)
    tok_df = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    tk = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - 4, F.lit(1)) - 1)
    gram_hashes = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(tk, i + 1, 5)))
    )
    return (
        tok_df.select("doc_id", gram_hashes.alias("gh"))
        .select(
            "doc_id",
            F.array_min("gh").alias("fingerprint"),
            F.size("gh").alias("n_grams"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_bpe_token_counts",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
         / len(string_split(text, ' ')) AS bpe_per_word
FROM documents
ORDER BY doc_id
""",
)
def q_text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    lexer (letter runs / digit runs / single punctuation — the pre-merge
    segmentation a BPE tokenizer starts from). The tokens-per-word ratio
    is the standard compression proxy used to budget training tokens
    from raw corpus bytes."""
    d = load_table(spark, sf_dir, "documents")
    # idx=0 (whole match): Spark defaults to capture group 1, DuckDB to 0
    bpe = F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    ws = F.split(F.col("text"), " ")
    return (
        d.select("doc_id", F.size(ws).alias("n_ws_tokens"), F.size(bpe).alias("n_bpe_tokens"))
        .select(
            "doc_id",
            "n_ws_tokens",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens")).alias("bpe_per_word"),
        )
        .orderBy("doc_id")
    )


N_PROFILE = 25   # trigrams per language profile
PROFILE_CHARS = 60  # chars of each doc used (bounds work per doc)


@query(
    "q_text_langid_ngram",
    oracle=f"""
WITH tris AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           range(greatest(length(substring(text, 1, {PROFILE_CHARS})) - 2, 0)),
           i -> substring(substring(text, 1, {PROFILE_CHARS}), i + 1, 3)
         )) AS tri
  FROM documents
),
train AS (
  SELECT t.* FROM tris t
  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS BIGINT) >= 204
),
profile AS (
  SELECT lang AS p_lang, tri FROM (
    SELECT lang, tri, row_number() OVER (
      PARTITION BY lang ORDER BY count(*) DESC, tri
    ) AS rk
    FROM train GROUP BY lang, tri
  ) WHERE rk <= {N_PROFILE}
),
scored AS (
  SELECT tr.doc_id, tr.lang, p.p_lang, count(*) AS hits
  FROM tris tr JOIN profile p ON tr.tri = p.tri
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, lang, p_lang, row_number() OVER (
    PARTITION BY doc_id ORDER BY hits DESC, p_lang
  ) AS rk
  FROM scored
)
SELECT doc_id, lang AS label_lang, p_lang AS pred_lang
FROM best WHERE rk = 1
ORDER BY doc_id
""",
)
def q_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID — the classic n-gram heuristic,
    as a train/apply pipeline in pure DataFrame ops: build top-25
    trigram profiles per language from the hash-bucket TRAIN split
    (no leakage machinery needed — the split is content-keyed, see
    operators/sampling.py), score every doc by profile hits, argmax
    with deterministic tiebreak. The profile table is tiny (langs ×
    25) and broadcasts; the only corpus-sized shuffles are the trigram
    count and the per-doc argmax."""
    from highload_kafka_streams_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    head = F.substring(F.col("text"), 1, PROFILE_CHARS)
    tri_df = d.select(
        "doc_id", "lang", head.alias("head")
    )
    h = F.col("head")
    idx = F.sequence(
        F.lit(0), F.greatest(F.length(h) - 2, F.lit(1)) - 1
    )
    tris = tri_df.select(
        "doc_id",
        "lang",
        F.explode(F.transform(idx, lambda i: h.substr(i + 1, F.lit(3)))).alias(
            "tri"
        ),
    )
    train = tris.filter(hash_bucket(F.col("doc_id")) >= 204)
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tri")
    )
    profile = (
        train.groupBy("lang", "tri")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= N_PROFILE)
        .select(F.col("lang").alias("p_lang"), "tri")
    )
    scored = (
        tris.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count("*").alias("hits"))
    )
    best = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "p_lang")
    )
    return (
        scored.withColumn("rk", best)
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("label_lang"),
            F.col("p_lang").alias("pred_lang"),
        )
        .orderBy("doc_id")
    )


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_URL_RE = "https?://[^ ]+"
_LONGNUM_RE = "[0-9]{6,}"


def pii_masked(text_col) -> "F.Column":
    """Expression: emails/URLs/long digit runs → sentinel tokens.
    Public API building block (llm.api.mask_pii); Spark regexp_replace
    is global by default — the DuckDB twin needs the 'g' flag."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text_col, _EMAIL_RE, "<EMAIL>"),
            _URL_RE,
            "<URL>",
        ),
        _LONGNUM_RE,
        "<NUM>",
    )


def normalized(text_col) -> "F.Column":
    """Expression: lowercase, punctuation → space, whitespace collapse,
    trim — the canonical form exact dedup should key on."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text_col), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )


@query(
    "q_text_pii_mask",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
         len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS n_longnums,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_URL_RE}', '<URL>', 'g'),
           '{_LONGNUM_RE}', '<NUM>', 'g') AS masked
  FROM documents
)
SELECT doc_id, n_emails, n_urls, n_longnums,
       md5(masked) AS masked_md5, length(masked) AS masked_len
FROM m
ORDER BY doc_id
""",
)
def q_text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / identifier masking — the redaction pass every training-data
    pipeline runs before tokenization: emails, URLs, and long digit runs
    replaced with sentinel tokens. Pure JVM regexp chain (whole-stage
    codegen; one corpus scan, no shuffle — embarrassingly parallel at
    100 TB). Masked text is md5-fingerprinted in the checked output so
    the hash proves byte-identical masking without shipping the corpus
    through the comparator. NOTE Spark regexp_replace is global by
    default; DuckDB needs the 'g' flag."""
    d = load_table(spark, sf_dir, "documents")
    masked = pii_masked("text")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_URL_RE), 0)).alias(
            "n_urls"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_LONGNUM_RE), 0)).alias(
            "n_longnums"
        ),
        F.md5(masked).alias("masked_md5"),
        F.length(masked).alias("masked_len"),
    ).orderBy("doc_id")


@query(
    "q_text_normalize",
    oracle="""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS norm_md5, length(norm) AS norm_len
FROM n
ORDER BY doc_id
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, punctuation → space,
    whitespace collapse, trim) — the cleaning pass that precedes exact
    dedup so near-identical bytes hash together. Single scan, zero
    shuffle, all codegen'd built-ins; output is the md5 fingerprint of
    the normalized text (the exact-dedup key a 100 TB pipeline would
    group on, cf. llm/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalized(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("norm_len"),
    ).orderBy("doc_id")


@query(
    "q_text_repetition",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
                        i -> array_to_string(toks[i+1:i+3], ' ')) AS tris
  FROM t
)
SELECT doc_id, n_tokens,
       round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens, 9)
         AS tok_rep_ratio,
       round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 9)
         AS tri_rep_ratio,
       (1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris)) > 0.5
         AS is_repetitive
FROM g
ORDER BY doc_id
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (Gopher-style duplicate-n-gram signal): the
    fraction of duplicate tokens and duplicate word-trigrams per doc,
    plus a keep/drop flag — the quality gate that catches boilerplate
    and degenerate loops before training. All JVM higher-order
    expressions, single scan, zero shuffle. The token and trigram
    arrays are materialized as projection stages BEFORE any lambda
    touches them (HOF lambdas re-evaluate outer expressions per
    element — see shingles() in llm/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    staged = d.select("doc_id", toks.alias("toks"))
    tk = F.col("toks")
    tris = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tk) - 3, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 3)),
    )
    staged = staged.select(
        "doc_id", "toks", F.size(tk).alias("n_tokens"), tris.alias("tris")
    )
    tri_rep = 1.0 - F.size(F.array_distinct("tris")).cast("double") / F.size(
        "tris"
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0
            - F.size(F.array_distinct("toks")).cast("double")
            / F.col("n_tokens"),
            9,
        ).alias("tok_rep_ratio"),
        F.round(tri_rep, 9).alias("tri_rep_ratio"),
        (tri_rep > 0.5).alias("is_repetitive"),
    ).orderBy("doc_id")


@query(
    "q_text_decontaminate",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(toks) - 5, 0)),
           i -> md5(array_to_string(toks[i+1:i+5], ' ')))) AS gkeys
  FROM t
),
bench AS (
  SELECT DISTINCT unnest(gkeys) AS gkey FROM g WHERE doc_id % 97 = 0
),
corpus AS (
  SELECT doc_id, unnest(gkeys) AS gkey FROM g WHERE doc_id % 97 <> 0
),
hits AS (
  SELECT c.doc_id,
         count(*) AS n_grams,
         count(*) FILTER (WHERE b.gkey IS NOT NULL) AS n_contaminated
  FROM corpus c LEFT JOIN bench b ON c.gkey = b.gkey
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_contaminated,
       round(CAST(n_contaminated AS DOUBLE) / n_grams, 9) AS contamination,
       n_contaminated > 0 AS is_contaminated
FROM hits
ORDER BY doc_id
""",
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screening: flag training docs sharing
    word-5-grams with a held-out benchmark set (here the deterministic
    doc_id % 97 == 0 slice stands in for the benchmark corpus). The
    join key is the md5 gram digest — portable across engines AND the
    16-byte key you'd actually shuffle at 100 TB instead of raw gram
    text; the benchmark key set is tiny by construction and broadcasts.
    Standard n-gram-overlap decontamination (GPT-3/C4-style)."""
    from highload_kafka_streams_spark.llm.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    gkeys = F.transform(shingles(F.col("toks"), 5), lambda g: F.md5(g))
    grams = staged.select("doc_id", F.explode(gkeys).alias("gkey"))
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gkey").distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "gkey", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_grams"), 9
        ).alias("contamination"),
        (F.col("n_contaminated") > 0).alias("is_contaminated"),
    ).orderBy("doc_id")


@query(
    "q_text_ngram_topk",
    oracle="""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(text, ' ') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         array_to_string(toks[i : i + 2], ' ') AS gram
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
),
c AS (
  SELECT gram, md5(gram) AS gram_md5,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occ
  FROM g GROUP BY gram
)
SELECT gram, gram_md5, n_docs, n_occ
FROM c
ORDER BY n_occ DESC, gram_md5
LIMIT 20
""",
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level most-frequent word trigrams — the LM-analysis
    frequency table. Scale shape: counting groups on the 16-byte md5
    digest computed map-side, so the shuffle never carries gram text;
    only the 20 winning digests join back (broadcast) against a second
    gram pass to recover their text. Ties at the cut rank break on the
    digest, which both engines can order identically at selection time
    (a raw-text tie-break would need the text in the shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.col("text"), " ").alias("toks"),
    ).filter(F.size("toks") >= 3)
    idx = F.sequence(F.lit(0), F.size("toks") - 3)
    gram_col = F.explode(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 3)))
    ).alias("gram")

    digests = staged.select("doc_id", gram_col).select(
        "doc_id", F.md5("gram").alias("gram_md5")
    )
    topk = (
        digests.groupBy("gram_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .orderBy(F.col("n_occ").desc(), "gram_md5")
        .limit(20)
    )
    texts = (
        staged.select(gram_col)
        .withColumn("gram_md5", F.md5("gram"))
        .join(F.broadcast(topk), "gram_md5")
        .groupBy("gram_md5", "n_docs", "n_occ")
        .agg(F.min("gram").alias("gram"))
    )
    return texts.select("gram", "gram_md5", "n_docs", "n_occ").orderBy(
        F.col("n_occ").desc(), "gram_md5"
    )


@query(
    "q_pipeline_curation",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents
),
q AS (
  SELECT * FROM t
  WHERE n_tokens >= 5
    AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 2 AND 12
),
dedup AS (
  SELECT md5(norm) AS norm_md5,
         min(doc_id) AS keep_doc_id,
         arg_min(lang, doc_id) AS lang,
         arg_min(n_tokens, doc_id) AS n_tokens,
         count(*) AS n_copies
  FROM q GROUP BY md5(norm)
)
SELECT lang,
       count(*) AS n_docs_kept,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_dropped,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
FROM dedup
GROUP BY lang
ORDER BY lang
""",
)
def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation composite — the pipeline a reference
    user actually runs, as ONE declarative plan: quality gate (length +
    avg-token-length heuristics) → canonical normalization →
    normalized-exact dedup (keep lowest doc_id) → per-language corpus
    statistics.

    Scale shape: one corpus scan; the only wide exchange groups on the
    16-byte md5 of the NORMALIZED text (never the text itself); the
    survivor's (lang, n_tokens) ride along as a struct-min so no
    join-back to the corpus is needed; the per-language summary
    aggregates the already-tiny dedup table. Catalyst fuses the
    filter+normalize into the scan, so adding pipeline stages does not
    add passes."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.md5(normalized(F.col("text"))).alias("norm_md5"),
    )
    quality = staged.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_chars").cast("double") / F.col("n_tokens")).between(2, 12)
    )
    dedup = quality.groupBy("norm_md5").agg(
        F.min(F.struct("doc_id", "lang", "n_tokens")).alias("keep"),
        F.count("*").alias("n_copies"),
    )
    return (
        dedup.select(
            F.col("keep.lang").alias("lang"),
            F.col("keep.n_tokens").alias("n_tokens"),
            "n_copies",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum(F.col("n_copies") - 1).alias("n_dups_dropped"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count("*")).alias(
                "avg_tokens"
            ),
        )
        .orderBy("lang")
    )


# Deterministic AFINN-style lexicon over the corpus vocabulary
# (PAPERS.md:6 sentiment grounding; SURVEY.md §2 "lexicon sentiment via
# join against score table"). Integer scores — the per-doc aggregate
# stays exact in both engines.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2,
    "small": 1,
    "good": 3,
    "clean": 2,
    "cache": 1,
    "slow": -2,
    "big": -1,
    "dup": -2,
    "error": -3,
    "skew": -2,
    "spill": -2,
    "bad": -3,
}

_LEX_SQL = ", ".join(
    f"('{w}', {s})" for w, s in sorted(SENTIMENT_LEXICON.items())
)


@query(
    "q_text_sentiment",
    oracle=f"""
WITH lex(word, score) AS (VALUES {_LEX_SQL}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
scored AS (
  SELECT t.doc_id,
         count(l.score) AS n_hits,
         CAST(coalesce(sum(l.score), 0) AS BIGINT) AS score_sum
  FROM tok t LEFT JOIN lex l ON t.token = l.word
  GROUP BY t.doc_id
)
SELECT doc_id, n_hits, score_sum,
       CASE WHEN score_sum > 0 THEN 'positive'
            WHEN score_sum < 0 THEN 'negative'
            ELSE 'neutral' END AS sentiment
FROM scored
ORDER BY doc_id
""",
)
def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the classic AFINN shape): tokens
    LEFT-joined against a broadcast score table, integer score sum per
    document, three-way label. The lexicon is a constant-sized
    broadcast — at 100 TB the token stream never shuffles at all; the
    only exchange is the per-doc aggregation, keyed on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    lex = F.broadcast(
        spark.createDataFrame(
            sorted(SENTIMENT_LEXICON.items()), "word string, score int"
        )
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    scored = (
        tok.join(lex, tok.token == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            F.count("score").alias("n_hits"),
            F.coalesce(F.sum("score"), F.lit(0)).cast("bigint").alias(
                "score_sum"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "n_hits",
        "score_sum",
        F.when(F.col("score_sum") > 0, "positive")
        .when(F.col("score_sum") < 0, "negative")
        .otherwise("neutral")
        .alias("sentiment"),
    ).orderBy("doc_id")


RARITY_TOP_K = 1024  # ranked vocabulary size; tail tokens share rank K+1


@query(
    "q_text_rarity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT token, count(*) AS tf FROM toks GROUP BY token
),
ranked AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rnk
  FROM tf
  QUALIFY rnk <= {RARITY_TOP_K}
),
scored AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(SUM(COALESCE(r.rnk, {RARITY_TOP_K + 1})) AS BIGINT)
           AS rank_sum
  FROM toks t LEFT JOIN ranked r ON t.token = r.token
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, rank_sum,
       CAST(rank_sum AS DOUBLE) / n_tokens AS mean_rank
FROM scored
ORDER BY doc_id
""",
)
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity scoring — the integer-exact stand-in for LM
    perplexity in curation cascades (CCNet-style): each token in the
    top-K vocabulary gets its corpus frequency RANK (1 = most common;
    deterministic tie-break on the token text), every tail token shares
    the default rank K+1, and a document scores the mean rank of its
    tokens. Rare-token-heavy docs (jargon, codes, garbage) score high;
    stopword soup scores low. Ranks are integers and the score is one
    exact integer sum / count, so the result hash-matches cross-engine
    where a log-probability would drift in the last ulp.

    Scale shape (de-weaked in r4 per VERDICT — the old form ranked the
    ENTIRE vocabulary through one single-partition window): the tf pass
    is the same token shuffle TF-IDF uses; the top-K cut is a
    distributed limit-sort (TakeOrderedAndProject), the ranking window
    runs over exactly K=1024 rows, and the broadcast back against the
    token stream is bounded at K rows no matter how large the corpus
    vocabulary grows. Tail tokens never shuffle a rank at all — they
    default via the left join."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("token").agg(F.count("*").alias("tf"))
    topk = tf.orderBy(F.col("tf").desc(), F.col("token")).limit(RARITY_TOP_K)
    ranked = topk.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), F.col("token")))
        .alias("rnk"),
    )
    return (
        toks.join(F.broadcast(ranked), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("rnk"), F.lit(RARITY_TOP_K + 1))
            ).alias("rank_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rank_sum",
            (F.col("rank_sum").cast("double") / F.col("n_tokens")).alias(
                "mean_rank"
            ),
        )
        .orderBy("doc_id")
    )


MG_K = 200  # heavy-hitter threshold: tokens with freq > N/MG_K


def _mg_partial(batches):
    """Per-partition Misra–Gries: stream the partition's tokens through
    MG_K counters; survivors are the partition's candidate set. Runs
    inside mapInPandas — bounded memory (MG_K entries) no matter how
    large the partition."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for tok in pdf["token"]:
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < MG_K:
                counters[tok] = 1
            else:
                dead = [t for t in counters if counters[t] == 1]
                for t in counters:
                    counters[t] -= 1
                for t in dead:
                    del counters[t]
    yield pd.DataFrame({"token": list(counters.keys())})


@query(
    "q_text_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT token, count(*) AS freq
FROM toks, meta
GROUP BY token, meta.n
HAVING count(*) * 200 > meta.n
ORDER BY token
""",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with frequency > N/200) via
    the two-pass sketch-then-verify paradigm: pass 1 runs Misra–Gries
    with 200 counters INSIDE each partition (`mapInPandas`, bounded
    memory), whose union provably contains every global heavy hitter
    (if freq(x) > Σ_p N_p/200 then some partition leaves x a positive
    residual); pass 2 exactly recounts ONLY the candidate union
    (broadcast semi-join) and applies the exact threshold. Output is
    therefore EXACT and partitioning-independent even though pass 1 is
    approximate — the pattern that makes top-k affordable at 100 TB:
    the full token stream is never shuffled, only candidates
    (≤ 200/partition) and their recount groups."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    from pyspark.sql.types import StringType, StructField, StructType

    cand = (
        toks.mapInPandas(
            _mg_partial, schema=StructType([StructField("token", StringType())])
        )
        .distinct()
    )
    meta = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(meta))
        .filter(F.col("freq") * MG_K > F.col("n"))
        .select("token", "freq")
        .orderBy("token")
    )


@query(
    "q_text_novelty",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(
             range(len(string_split(text,' ')) - 2),
             i -> md5(array_to_string(string_split(text,' ')[i+1:i+3], ' '))
           ))) AS g
  FROM documents
  WHERE len(string_split(text,' ')) >= 3
),
df AS (
  SELECT g, count(*) AS df FROM grams GROUP BY g
)
SELECT grams.doc_id,
       count(*) AS n_grams,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS novelty
FROM grams JOIN df ON grams.g = df.g
GROUP BY grams.doc_id
ORDER BY grams.doc_id
""",
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty — the share of a document's distinct trigrams that
    appear NOWHERE else in the corpus. Low novelty = template/boilerplate
    (its phrasing is everywhere); high novelty = unique content — the
    inverse signal of q_text_decontaminate's overlap and a standard
    curation axis alongside repetition and rarity.

    The gram stream is md5 digests (16-byte shuffle keys, gram text
    never shuffles); document frequency comes from one digest-keyed
    aggregate and joins back to the same gram stream — share and ratio
    are exact-integer arithmetic. At 100 TB this is two passes over the
    digest stream, the same cost envelope as TF-IDF."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    tk = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - 3, F.lit(0)))
    gram_md5 = F.array_distinct(
        F.transform(
            idx, lambda i: F.md5(F.concat_ws(" ", F.slice(tk, i + 1, 3)))
        )
    )
    grams = toks.select("doc_id", F.explode(gram_md5).alias("g"))
    grams = scoped_persist(grams)
    df_tab = grams.groupBy("g").agg(F.count("*").alias("df"))
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    out = (
        grams.join(df_tab, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(uniq).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )
    return out


@query(
    "q_text_readability",
    oracle="""
WITH stats AS (
  SELECT doc_id,
         GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1)
           AS n_sentences,
         len(string_split(text, ' ')) AS n_words,
         GREATEST(len(string_split_regex(lower(text), '[aeiouy]+')) - 1, 1)
           AS n_vowel_groups
  FROM documents
)
SELECT doc_id, n_sentences, n_words, n_vowel_groups,
       CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence,
       CAST(n_vowel_groups AS DOUBLE) / n_words AS syllables_per_word
FROM stats
ORDER BY doc_id
""",
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile — the Flesch-style inputs (words/sentence,
    syllable-proxy/word, with vowel GROUPS standing in for syllables)
    as exact integer counts plus two exact-ratio doubles. Complexity
    screening is a standard curation axis next to quality/repetition/
    rarity: too-high words-per-sentence is legalese or run-on garbage,
    too-low is listicle fragments. Counting is regex splits — pure
    codegen projections, zero shuffle before the output sort."""
    d = load_table(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
    )
    n_words = F.size(F.split(F.col("text"), " "))
    n_vg = F.greatest(
        F.size(F.split(F.lower(F.col("text")), r"[aeiouy]+")) - 1, F.lit(1)
    )
    stats = d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_vg.alias("n_vowel_groups"),
    )
    return stats.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_vowel_groups",
        (F.col("n_words").cast("double") / F.col("n_sentences")).alias(
            "words_per_sentence"
        ),
        (F.col("n_vowel_groups").cast("double") / F.col("n_words")).alias(
            "syllables_per_word"
        ),
    ).orderBy("doc_id")


@query(
    "q_text_lang_confusion",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','for','with','that','this','are','was'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas','une','des'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','es','una','por','con'], x))) AS s_es
  FROM t
),
pred AS (
  SELECT lang AS label_lang,
         CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS pred_lang
  FROM scored
),
cells AS (
  SELECT label_lang, pred_lang, count(*) AS n
  FROM pred GROUP BY label_lang, pred_lang
),
label_tot AS (
  SELECT label_lang, CAST(SUM(n) AS BIGINT) AS n_label FROM cells
  GROUP BY label_lang
)
SELECT c.label_lang, c.pred_lang, c.n, lt.n_label,
       CAST(c.n AS DOUBLE) / lt.n_label AS label_share
FROM cells c JOIN label_tot lt ON c.label_lang = lt.label_lang
ORDER BY c.label_lang, c.pred_lang
""",
)
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the language-ID confusion
    matrix (label × prediction counts + per-label share, i.e. the
    recall diagonal) computed by COMPOSING the registered langid query
    — model evaluation is itself a dataframe program, which is how
    quality of any heuristic/model column gets monitored continuously
    at scale. The matrix is |langs|² rows forever; shares divide exact
    integers. Eval composes over predictions exactly like the Markov
    matrix composes over sequences."""
    pred = q_text_langid(spark, sf_dir).select("label_lang", "pred_lang")
    cells = pred.groupBy("label_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    label_tot = cells.groupBy("label_lang").agg(F.sum("n").alias("n_label"))
    return (
        cells.join(F.broadcast(label_tot), "label_lang")
        .select(
            "label_lang",
            "pred_lang",
            "n",
            "n_label",
            (F.col("n").cast("double") / F.col("n_label")).alias("label_share"),
        )
        .orderBy("label_lang", "pred_lang")
    )


@query(
    "q_text_bpe_merge_step",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (
  SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w
),
idx AS (
  SELECT w, f, unnest(generate_series(1, len(w) - 1)) AS i FROM wf
),
pairs AS (
  SELECT substring(w, i, 1) AS sym_a, substring(w, i + 1, 1) AS sym_b, f
  FROM idx
)
SELECT sym_a, sym_b, CAST(SUM(f) AS BIGINT) AS pair_count
FROM pairs
GROUP BY sym_a, sym_b
ORDER BY pair_count DESC, sym_a, sym_b
LIMIT 20
""",
)
def q_text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: the adjacent-symbol pair counts
    whose argmax becomes the next merge rule — the inner loop of
    byte-pair-encoding tokenizer induction, expressed as a query.

    Scale shape (the classic BPE trick): pairs are counted over the
    WORD-FREQUENCY table, never the corpus — the token shuffle carries
    |vocab| rows weighted by their frequency, so a 100 TB corpus with a
    10M-word vocabulary explodes 10M·avg_len pair rows, not the
    corpus's token stream. The top-20 cut is a limit-sort
    (TakeOrderedAndProject) with a (count, sym_a, sym_b) total order so
    the merge choice is deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    wf = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    pairs = wf.select(
        "w",
        "f",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
    ).select(
        F.expr("substring(w, i, 1)").alias("sym_a"),
        F.expr("substring(w, i + 1, 1)").alias("sym_b"),
        "f",
    )
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("f").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
        .limit(20)
    )


@query(
    "q_text_unigram_lm",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY token
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
lp AS (
  SELECT token,
         CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT)
           AS lp_fp
  FROM vocab, tot
),
per_doc AS (
  SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token
)
SELECT per_doc.doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(-SUM(lp_fp * c) AS BIGINT) AS nll_fp,
       -SUM(lp_fp * c) / (1000000.0 * SUM(c)) AS avg_neg_logprob
FROM per_doc JOIN lp USING (token)
GROUP BY per_doc.doc_id
ORDER BY per_doc.doc_id
""",
)
def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (the CCNet/KenLM-style perplexity
    proxy used to rank web text by fluency): train a unigram LM on the
    corpus itself (token -> ln(count/total)), then score every document
    by its average negative log-probability. The vocab is a DataFrame
    (never a driver-side dict); each token's logprob is fixed-pointed
    ONCE per vocab entry (floor(ln·1e6) — the only transcendental in
    the query), so the per-document reduction is exact BIGINT
    arithmetic and reduction-order-proof in both engines. Shuffle cost
    carries doc×term partials (two-level agg), and the (token -> lp_fp)
    table joins on the token key the partials are already grouped by.
    At 100 TB the vocab table is the small side — broadcast or
    bucket-joined — and the corpus is read once for counting, once for
    scoring."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    per_doc = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    per_doc = scoped_persist(per_doc)
    vocab = per_doc.groupBy("token").agg(F.sum("c").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n_total"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("n_total")) * 1000000
        )
        .cast("long")
        .alias("lp_fp"),
    )
    return (
        per_doc.join(lp, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (-F.sum(F.col("lp_fp") * F.col("c"))).alias("nll_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_fp",
            (
                F.col("nll_fp") / (1000000.0 * F.col("n_tokens"))
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_chunk_overlap",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, i AS chunk_idx,
       least(32, n - i*24) AS chunk_len,
       md5(array_to_string(toks[i*24+1 : i*24+least(32, n - i*24)], ' '))
         AS chunk_md5
FROM base,
     UNNEST(range(CASE WHEN n > 32 THEN 2 + (n - 32 - 1) // 24 ELSE 1 END))
       AS u(i)
ORDER BY doc_id, chunk_idx
""",
)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (training-sample prep): split
    every document into 32-token windows with stride 24 (8-token
    overlap so no boundary context is lost), emitting one row per
    chunk with its md5 content digest. The chunk index list is a
    per-row ``sequence`` + ``explode`` — pure JVM, no UDF, and the
    fan-out is bounded by ceil(n/stride) per document so a 100 TB
    corpus chunks in one narrow pass with zero shuffles (the output
    digest, not the chunk text, is what downstream dedup consumes —
    see q_dedup_chunks for the digest-keyed exact dedup that follows
    this operator in a real pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n"),
    )
    n_chunks = F.when(
        F.col("n") > 32, 2 + F.floor((F.col("n") - 32 - 1) / 24).cast("long")
    ).otherwise(F.lit(1).cast("long"))
    chunk_len = F.least(F.lit(32).cast("long"), F.col("n") - F.col("chunk_idx") * 24)
    return (
        base.select(
            "doc_id",
            "toks",
            "n",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            chunk_len.alias("chunk_len"),
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("toks"),
                        (F.col("chunk_idx") * 24 + 1).cast("int"),
                        chunk_len.cast("int"),
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q_text_keywords",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
df AS (
  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * CAST(FLOOR(ln(CAST(n.n_docs AS DOUBLE) / df.df)
                            * 1000000000) AS BIGINT) AS score_fp
  FROM tf JOIN df ON tf.token = df.token, n
  WHERE df.df >= 2
),
ranked AS (
  SELECT doc_id, token, score_fp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_fp DESC, token) AS rank
  FROM scored
)
SELECT doc_id, rank, token AS keyword, score_fp
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF — the
    composition of the corpus DF table with a per-doc ranking window.
    The ranking key is an INTEGER surrogate (tf · ⌊ln(N/df)·1e9⌋ — the
    idf fixed-pointed once per distinct df value) so cross-engine rank
    order can never flip on a last-ulp double, the hazard a raw
    double tfidf ordering would carry. One shuffle builds the df
    table, one shuffle ranks per doc_id; at 100 TB the df table is the
    broadcast-or-bucket side exactly as in q_text_tfidf."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    tf = scoped_persist(tf)
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df")).filter(
        F.col("df") >= 2
    )
    n = d.agg(F.count("*").alias("n_docs"))
    idf_fp = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000000
    ).cast("long")
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * idf_fp).alias("score_fp"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), "token"
    )
    return (
        scored.select(
            "doc_id",
            F.row_number().over(w).alias("rank"),
            F.col("token").alias("keyword"),
            "score_fp",
        )
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


@query(
    "q_text_heaps_law",
    oracle="""
WITH meta AS (
  SELECT CAST(max(doc_id) + 1 AS BIGINT) AS span FROM documents
),
term_first AS (
  SELECT t.term, min(d.doc_id) AS first_doc
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
  GROUP BY t.term
),
term_dec AS (
  SELECT least(CAST((first_doc * 10) // (SELECT span FROM meta) AS BIGINT)
               + 1, 10) AS decile,
         CAST(count(*) AS BIGINT) AS new_terms
  FROM term_first GROUP BY 1
),
doc_dec AS (
  SELECT least(CAST((doc_id * 10) // (SELECT span FROM meta) AS BIGINT)
               + 1, 10) AS decile,
         CAST(count(*) AS BIGINT) AS new_docs
  FROM documents GROUP BY 1
),
spine AS (SELECT unnest(generate_series(1, 10)) AS decile)
SELECT s.decile,
       CAST(SUM(COALESCE(dd.new_docs, 0))
              OVER (ORDER BY s.decile) AS BIGINT) AS n_docs,
       CAST(COALESCE(td.new_terms, 0) AS BIGINT) AS new_terms,
       CAST(SUM(COALESCE(td.new_terms, 0))
              OVER (ORDER BY s.decile) AS BIGINT) AS vocab_size
FROM spine s
LEFT JOIN term_dec td ON td.decile = s.decile
LEFT JOIN doc_dec dd ON dd.decile = s.decile
ORDER BY s.decile
""",
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve over ingestion order — the
    corpus-health statistic that tells a crawl pipeline whether new
    data still brings new language (vocab still growing ~ K·n^β) or
    has gone stale/duplicative (curve flattens): 10 ingestion deciles
    (doc_id value ranges — the PK is assigned at ingest), cumulative
    docs, per-decile NEW terms, cumulative vocabulary.

    Scale shape: no global row_number anywhere — each term's first
    occurrence is a min() aggregate keyed on the term, its decile is
    pure arithmetic against a broadcast 1-row span, and the only
    window is the 10-row decile spine. The term table (the only big
    intermediate) shuffles once on the term itself."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.agg((F.max("doc_id") + 1).alias("span"))
    # integer DIV on both sides (DuckDB `//`) — no double division near
    # decile boundaries
    dec = F.least(
        F.expr("(first_doc * 10) DIV span") + 1, F.lit(10)
    ).cast("long")
    term_first = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    term_dec = (
        term_first.crossJoin(F.broadcast(meta))
        .select(dec.alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("new_terms"))
    )
    doc_dec = (
        docs.crossJoin(F.broadcast(meta))
        .select(
            F.least(F.expr("(doc_id * 10) DIV span") + 1, F.lit(10))
            .cast("long")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("new_docs"))
    )
    spine = spark.range(1, 11).select(F.col("id").alias("decile"))
    from pyspark.sql.window import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(F.broadcast(term_dec), "decile", "left")
        .join(F.broadcast(doc_dec), "decile", "left")
        .select(
            "decile",
            F.coalesce("new_docs", F.lit(0)).alias("_nd"),
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "decile",
            F.sum("_nd").over(w).cast("long").alias("n_docs"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
        )
        .select("decile", "n_docs", "new_terms", "vocab_size")
        .orderBy("decile")
    )


@query(
    "q_text_zipf_slope",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
v AS (
  SELECT t, CAST(count(*) AS BIGINT) AS freq
  FROM tok WHERE t <> '' GROUP BY t
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, t) AS rnk
  FROM v
),
pts AS (
  SELECT CAST(FLOOR(ln(rnk) * 100000) AS BIGINT) AS x,
         CAST(FLOOR(ln(freq) * 100000) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS r,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT r AS n_terms,
       r * sxy - sx * sy AS slope_num,
       r * sxx - sx * sx AS slope_den,
       CAST(r * sxy - sx * sy AS DOUBLE) / (r * sxx - sx * sx) AS slope
FROM s
""",
)
def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) — the scale-free exponent every
    corpus-health report tracks (natural language sits near −1;
    boilerplate-heavy or template-generated corpora flatten it, so a
    drifting slope is a contamination alarm, the frequency-spectrum
    complement of the Heaps'-law vocabulary curve).

    Determinism: both logs are fixed-pointed ONCE per vocabulary entry
    (⌊ln·1e5⌋ — rank and frequency are exact integers first), after
    which the OLS fit is the closed form on exact integer power sums:
    slope = (R·Σxy − ΣxΣy) / (R·Σx² − (Σx)²), emitted as the exact
    BIGINT numerator/denominator pair plus their one IEEE division.

    Scale shape: the token count is the only corpus-sized shuffle
    (map-side combinable); ranking runs on the VOCABULARY table — at
    1e5 scale the products stay far inside BIGINT for vocabularies to
    ~100M terms — and the rank window is the same vocabulary-bounded
    global order q_text_rarity already plan-locks (at 100 TB you rank
    the top-K spectrum, the fit's input is capped either way)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    ranked = vocab.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("t")))
        .alias("rnk"),
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 100000)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * 100000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("r"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("r") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("r") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("r").alias("n_terms"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (num.cast("double") / den).alias("slope"),
    )


@query(
    "q_text_bigram_lm",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT t.doc_id, toks[i.pos + 1] AS a, toks[i.pos + 2] AS b
  FROM t, unnest(range(len(toks) - 1)) AS i(pos)
),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY a, b),
ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY a),
lp AS (
  SELECT cab.a, cab.b,
         CAST(FLOOR(ln(cab.c) * 1000000) AS BIGINT)
         - CAST(FLOOR(ln(ca.c) * 1000000) AS BIGINT) AS lp
  FROM cab JOIN ca ON ca.a = cab.a
),
ds AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(-SUM(lp.lp) AS BIGINT) AS nll_fx_sum
  FROM bg JOIN lp ON lp.a = bg.a AND lp.b = bg.b
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, nll_fx_sum,
       CAST(nll_fx_sum AS DOUBLE) / (n_bigrams * 1000000.0) AS avg_nll
FROM ds
ORDER BY avg_nll DESC, doc_id
LIMIT 20
""",
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document — the conditional
    upgrade of the unigram-LM quality proxy: every consecutive token
    pair scores −ln P(b|a) with P estimated from the corpus itself
    (c_ab / c_a·), and the 20 highest average-surprisal documents
    surface as incoherent / shuffled / out-of-domain text — the CCNet
    perplexity-filter shape one model order up.

    Determinism: ln is fixed-pointed ONCE per bigram/prefix TYPE
    (⌊ln·1e6⌋ over exact integer counts), so each bigram's logprob is
    a difference of two integers and document scores are exact integer
    sums; the only float is one division of exact values, and the
    top-20 is total-ordered (avg DESC, doc_id).

    Scale shape: bigram extraction is a zero-shuffle narrow pass over
    the token arrays; the count tables are VOCABULARY-bounded (corpus
    bigram types), the score join keys on the bigram, and the top-20
    plans as TakeOrderedAndProject. Identical to the unigram-LM plan
    but with the conditional join added."""
    docs = load_table(spark, sf_dir, "documents")
    tok_df = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    tk = F.col("toks")
    bg = tok_df.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.struct(
                    F.element_at(tk, i).alias("a"),
                    F.element_at(tk, i + 1).alias("b"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.a", "g.b")
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ca = bg.groupBy("a").agg(F.count("*").alias("cuni"))
    lp = cab.join(ca, "a").select(
        "a",
        "b",
        (
            F.floor(F.log(F.col("cab").cast("double")) * 1000000)
            - F.floor(F.log(F.col("cuni").cast("double")) * 1000000)
        )
        .cast("long")
        .alias("lp"),
    )
    ds = (
        bg.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (-F.sum("lp")).cast("long").alias("nll_fx_sum"),
        )
    )
    return (
        ds.select(
            "doc_id",
            "n_bigrams",
            "nll_fx_sum",
            (
                F.col("nll_fx_sum").cast("double")
                / (F.col("n_bigrams") * 1000000.0)
            ).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "q_text_mattr",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE len(string_split(text, ' ')) >= 10
),
w AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(toks) - 9 AS BIGINT) AS n_windows,
         CAST(list_sum(list_transform(
             range(len(toks) - 9),
             i -> len(list_distinct(toks[i+1:i+10]))
         )) AS BIGINT) AS distinct_sum
  FROM t
)
SELECT doc_id, n_tokens, n_windows, distinct_sum,
       CAST(distinct_sum AS DOUBLE) / (10.0 * n_windows) AS mattr
FROM w
ORDER BY doc_id
""",
)
def q_text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity (moving-average type-token ratio,
    window 10): mean distinct-token fraction over every sliding
    10-token window — the length-robust vocabulary-richness signal
    (plain TTR collapses as documents grow; MATTR doesn't), a standard
    text-quality feature next to repetition and unigram surprisal.
    Repetitive / template text scores low, varied prose high.

    Exact: per-window distinct counts are integers summed per document
    and divided once (exact BIGINTs, IEEE-identical). The whole
    computation is a ZERO-SHUFFLE narrow projection — the window
    enumeration, slicing, and distinct counts all run inside one
    higher-order expression over the token array, so at 100 TB this is
    a pure map stage limited only by scan bandwidth; the only exchange
    is the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok_df = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 10)
    tk = F.col("toks")
    counts = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 9),
        lambda i: F.size(F.array_distinct(F.slice(tk, i, 10))),
    )
    dsum = F.aggregate(
        counts, F.lit(0).cast("long"), lambda a, x: a + x
    )
    return (
        tok_df.select(
            "doc_id",
            F.size(tk).cast("long").alias("n_tokens"),
            (F.size(tk) - 9).cast("long").alias("n_windows"),
            dsum.alias("distinct_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            "distinct_sum",
            (
                F.col("distinct_sum").cast("double")
                / (10.0 * F.col("n_windows"))
            ).alias("mattr"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_burstiness",
    oracle="""
WITH perdoc AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t
  FROM documents
),
c AS (
  SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM perdoc WHERE t <> '' GROUP BY t, doc_id
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
st AS (
  SELECT t,
         CAST(SUM(c) AS BIGINT) AS total_n,
         CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM c GROUP BY t
)
SELECT t AS term, total_n, doc_freq,
       nd.n * sum_c2 - total_n * total_n AS vmr_num,
       nd.n * total_n AS vmr_den,
       CAST(nd.n * sum_c2 - total_n * total_n AS DOUBLE)
         / (nd.n * total_n) AS vmr
FROM st, nd
ORDER BY total_n DESC, term
LIMIT 30
""",
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Fano factor / variance-to-mean ratio of
    per-document occurrence counts, zeros included): uniform 'function
    word' terms score ≈ 1−p, topical content terms burst ≫ 1 — the
    dispersion signal corpus linguistics uses to separate vocabulary
    strata, and a cheap topical-keyword detector for curation.

    Exact: VMR = (n·Σc² − (Σc)²) / (n·Σc) on population variance over
    ALL n documents (absent docs contribute 0 to every sum, so the
    zero rows never materialize) — an exact BIGINT rational plus its
    one IEEE division. Top-30 is total-ordered (count DESC, term).

    Scale shape: one (term, doc) count (map-side combinable), one
    term-keyed moment rollup, a 1-row broadcast for n — vocabulary-
    bounded after the first shuffle, TakeOrdered for the cut."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("t", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nd = docs.agg(F.count("*").alias("n"))
    st = c.groupBy("t").agg(
        F.sum("c").cast("long").alias("total_n"),
        F.count("*").cast("long").alias("doc_freq"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    num = F.col("n") * F.col("sum_c2") - F.col("total_n") * F.col("total_n")
    den = F.col("n") * F.col("total_n")
    return (
        st.crossJoin(F.broadcast(nd))
        .select(
            F.col("t").alias("term"),
            "total_n",
            "doc_freq",
            num.cast("long").alias("vmr_num"),
            den.cast("long").alias("vmr_den"),
            (num.cast("double") / den).alias("vmr"),
        )
        .orderBy(F.desc("total_n"), F.asc("term"))
        .limit(30)
    )


@query(
    "q_text_js_divergence",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t
  FROM documents
),
c AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE t <> '' GROUP BY source, t
),
tt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY t),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM c GROUP BY source),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
terms AS (
  SELECT c.source, c.c, tt.ct - c.c AS cr, ns.n_s, nn.n - ns.n_s AS n_r
  FROM c JOIN tt ON tt.t = c.t
  JOIN ns ON ns.source = c.source, nn
),
own AS (
  SELECT source, n_s, n_r,
         CAST(SUM(c * (CAST(FLOOR(ln(2 * c * n_r) * 1000000) AS BIGINT)
                       - CAST(FLOOR(ln(c * n_r + cr * n_s) * 1000000)
                              AS BIGINT))) AS BIGINT) AS num_own,
         CAST(SUM(CASE WHEN cr > 0 THEN
                  cr * (CAST(FLOOR(ln(2 * cr * n_s) * 1000000) AS BIGINT)
                        - CAST(FLOOR(ln(c * n_r + cr * n_s) * 1000000)
                               AS BIGINT))
                  ELSE 0 END) AS BIGINT) AS num_rest_seen
  FROM terms GROUP BY source, n_s, n_r
)
SELECT source, n_s AS n_tokens, num_own, num_rest_seen,
       (CAST(num_own AS DOUBLE) / n_s
        + CAST(num_rest_seen AS DOUBLE) / n_r) / 2000000.0 AS jsd_nats
FROM own
ORDER BY source
""",
)
def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the REST of the corpus — the distribution-shift monitor a
    training-data pipeline runs per ingestion source (a source whose
    JSD jumps is off-distribution: different domain, language mix, or
    contamination; feeds the mixture-balancing decisions).

    Determinism: both KL parts reduce to logs of INTEGER arguments —
    ln(p/m) = ln(2·c·n_r) − ln(c·n_r + c_rest·n_s), every operand an
    exact BIGINT — fixed-pointed once per (source, term) and summed as
    integers; the two final divisions of exact values are written
    identically on both engines. Terms a side has never seen
    contribute 0 to that side's sum (the 0·ln 0 convention), exactly
    as in the closed form. One caveat folded in deliberately: terms
    the REST has seen but the source hasn't still contribute to the
    rest-side sum only through documents where they occur — both
    engines compute the identical restriction, and the emitted parts
    are labeled as such.

    Scale shape: one (source, term) count (map-side combinable), a
    term-keyed total join, then a source-keyed reduction — all
    vocabulary-bounded after the first shuffle; output = one row per
    source."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    c = scoped_persist(c)
    tt = c.groupBy("t").agg(F.sum("c").alias("ct"))
    ns = c.groupBy("source").agg(F.sum("c").alias("n_s"))
    nn = c.agg(F.sum("c").alias("n"))
    terms = (
        c.join(tt, "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "c",
            (F.col("ct") - F.col("c")).alias("cr"),
            "n_s",
            (F.col("n") - F.col("n_s")).alias("n_r"),
        )
    )
    lnfx = lambda col: F.floor(F.log(col.cast("double")) * 1000000).cast(
        "long"
    )
    mix = lnfx(F.col("c") * F.col("n_r") + F.col("cr") * F.col("n_s"))
    own_term = F.col("c") * (lnfx(2 * F.col("c") * F.col("n_r")) - mix)
    rest_term = F.when(
        F.col("cr") > 0,
        F.col("cr") * (lnfx(2 * F.col("cr") * F.col("n_s")) - mix),
    ).otherwise(F.lit(0))
    own = terms.groupBy("source", "n_s", "n_r").agg(
        F.sum(own_term).cast("long").alias("num_own"),
        F.sum(rest_term).cast("long").alias("num_rest_seen"),
    )
    return own.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "num_own",
        "num_rest_seen",
        (
            (
                F.col("num_own").cast("double") / F.col("n_s")
                + F.col("num_rest_seen").cast("double") / F.col("n_r")
            )
            / 2000000.0
        ).alias("jsd_nats"),
    ).orderBy("source")


@query(
    "q_text_cooccurrence_pmi",
    oracle="""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
  FROM documents
),
dtf AS (SELECT doc_id, t FROM dt WHERE t <> ''),
cw AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM dtf GROUP BY t),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM dtf),
pairs AS (
  SELECT a.t AS w1, b.t AS w2, CAST(count(*) AS BIGINT) AS cab
  FROM dtf a JOIN dtf b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY a.t, b.t
),
scored AS (
  SELECT p.w1, p.w2, p.cab, ca.c AS c1, cb.c AS c2,
         CAST(FLOOR(ln(p.cab * nd.n) * 1000000) AS BIGINT)
         - CAST(FLOOR(ln(ca.c * cb.c) * 1000000) AS BIGINT) AS pmi_fx
  FROM pairs p
  JOIN cw ca ON ca.t = p.w1
  JOIN cw cb ON cb.t = p.w2, nd
  WHERE p.cab >= 5
)
SELECT w1, w2, cab, c1, c2, pmi_fx
FROM scored
ORDER BY pmi_fx DESC, w1, w2
LIMIT 20
""",
)
def q_text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of document-level word
    co-occurrence — the collocation score underlying everything from
    phrase detection to the PPMI matrices word embeddings factorize:
    PMI(a,b) = ln(P(a,b)/(P(a)P(b))) over document presence, with a
    min-support floor (c_ab ≥ 5) so rare-pair noise never ranks.

    Determinism: the log of a ratio becomes a difference of two logs
    of INTEGER arguments — ⌊ln(c_ab·N)·1e6⌋ − ⌊ln(c_a·c_b)·1e6⌋ —
    fixed-pointed once per surviving pair; ranking and the top-20 cut
    are total-ordered on the integer score.

    Scale shape: presence lists distinct per (doc, term) first; the
    pair join is the inverted-index self-join WITHIN the doc key
    (pairs ∝ doc-vocabulary², never corpus²); marginals are
    vocabulary-bounded and broadcast; top-20 is a TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    dtf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
    )
    dtf = scoped_persist(dtf)
    cw = dtf.groupBy("t").agg(F.count("*").alias("c"))
    nd = dtf.agg(F.count_distinct("doc_id").alias("n"))
    a, b = dtf.alias("a"), dtf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("w1"), F.col("b.t").alias("w2"))
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    ca = cw.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    cb = cw.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    lnfx = lambda col: F.floor(F.log(col.cast("double")) * 1000000).cast(
        "long"
    )
    return (
        pairs.join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            F.col("cab").cast("long").alias("cab"),
            "c1",
            "c2",
            (
                lnfx(F.col("cab") * F.col("n"))
                - lnfx(F.col("c1") * F.col("c2"))
            ).alias("pmi_fx"),
        )
        .orderBy(F.desc("pmi_fx"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@query(
    "q_text_hapax_ratio",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t
  FROM documents
),
c AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE t <> '' GROUP BY source, t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS hapax_ppm
FROM c
GROUP BY source
ORDER BY source
""",
)
def q_text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per source: the fraction of each source's
    vocabulary seen exactly once (plus the twice-seen dis legomena) —
    the lexical-freshness dial corpus linguistics pairs with Heaps'
    law (natural text runs ~40-60% hapax; template/boilerplate
    sources collapse toward 0, OCR-noise sources explode toward 1 —
    both directions are curation flags). Exact integer counts and one
    ppm floor division.

    Scale shape: one (source, term) count (map-side combinable), one
    source-keyed rollup — vocabulary-bounded after the first
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("long")
            .alias("dis"),
            F.expr(
                "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


@query(
    "q_drift_psi",
    oracle="""
WITH binned AS (
  SELECT source, least(n_chars // 100, 19) AS bin
  FROM documents
),
grid AS (
  SELECT s.source, b.bin
  FROM (SELECT DISTINCT source FROM binned) s,
       (SELECT DISTINCT bin FROM binned) b
),
cs AS (
  SELECT source, bin, CAST(count(*) AS BIGINT) AS c
  FROM binned GROUP BY source, bin
),
cells AS (
  SELECT grid.source, grid.bin, COALESCE(cs.c, 0) + 1 AS cs1
  FROM grid LEFT JOIN cs
    ON cs.source = grid.source AND cs.bin = grid.bin
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_bins,
         CAST(SUM(cs1) AS BIGINT) AS n_all
  FROM cells
),
marg AS (
  SELECT source, CAST(SUM(cs1) AS BIGINT) AS n_s FROM cells GROUP BY source
),
terms AS (
  SELECT cells.source,
         (cells.cs1 * (tot.n_all - marg.n_s)
            - (bt.c_all1 - cells.cs1) * marg.n_s) AS dp_num,
         CAST(FLOOR(ln(CAST(cells.cs1 * (tot.n_all - marg.n_s) AS DOUBLE))
                    * 1000) AS BIGINT)
           - CAST(FLOOR(ln(CAST((bt.c_all1 - cells.cs1) * marg.n_s
                                AS DOUBLE)) * 1000) AS BIGINT) AS dln_fx3,
         marg.n_s, tot.n_all
  FROM cells
  JOIN marg ON marg.source = cells.source
  JOIN (SELECT bin, CAST(SUM(cs1) AS BIGINT) AS c_all1
        FROM cells GROUP BY bin) bt ON bt.bin = cells.bin, tot
)
SELECT source, n_s, n_all - n_s AS n_rest,
       CAST(SUM(dp_num * dln_fx3) AS BIGINT) AS psi_num_fx3,
       CAST(SUM(dp_num * dln_fx3) AS DOUBLE)
         / (CAST(n_s AS DOUBLE) * (n_all - n_s) * 1000.0) AS psi
FROM terms GROUP BY source, n_s, n_all
ORDER BY source
""",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution against the REST of the corpus: PSI = Σ (p−q)·
    ln(p/q) over 20 length bins — the industry-standard drift score
    (banking's model-monitoring metric; PSI > 0.25 = re-train) and the
    companion to q_text_js_divergence (JSD is symmetric-bounded, PSI
    is the unbounded actuarial convention). Laplace +1 smoothing on a
    DENSE source×bin grid makes every cell positive — deterministic,
    and required because PSI diverges on empty bins. Then (p−q)
    clears its denominators into one exact BIGINT cross-difference,
    ln(p/q) is a difference of fixed-point logs of exact INTEGER
    products (1e3 scale keeps the c·n products' term inside BIGINT at
    ~sf10 — the documented bound), and each source's PSI sums exactly
    before ONE closing division.

    Scale shape: one shuffle to the source×bin cells; the grid,
    marginals and bin totals all derive from the bounded cell table
    (|sources|×20) with broadcast joins; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        "source", F.expr("least(n_chars DIV 100, 19)").alias("bin")
    )
    cs = binned.groupBy("source", "bin").agg(
        F.count("*").cast("long").alias("c")
    )
    srcs = binned.select("source").distinct()
    bins = binned.select("bin").distinct()
    grid = srcs.crossJoin(bins)
    cells = scoped_persist(
        grid.join(cs, ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("cs1"),
        )
    )
    tot = cells.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("cs1").cast("long").alias("n_all"),
    )
    marg = cells.groupBy("source").agg(
        F.sum("cs1").cast("long").alias("n_s")
    )
    bt = cells.groupBy("bin").agg(F.sum("cs1").cast("long").alias("c_all1"))
    lnfx3 = lambda col: F.floor(
        F.log(col.cast("double")) * 1000
    ).cast("long")
    rest = F.col("n_all") - F.col("n_s")
    terms = (
        cells.join(F.broadcast(marg), "source")
        .join(F.broadcast(bt), "bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            "n_all",
            (
                F.col("cs1") * rest
                - (F.col("c_all1") - F.col("cs1")) * F.col("n_s")
            ).alias("dp_num"),
            (
                lnfx3(F.col("cs1") * rest)
                - lnfx3((F.col("c_all1") - F.col("cs1")) * F.col("n_s"))
            ).alias("dln_fx3"),
        )
    )
    return (
        terms.groupBy("source", "n_s", "n_all")
        .agg(
            F.sum(F.col("dp_num") * F.col("dln_fx3"))
            .cast("long")
            .alias("psi_num_fx3")
        )
        .select(
            "source",
            "n_s",
            (F.col("n_all") - F.col("n_s")).alias("n_rest"),
            "psi_num_fx3",
            (
                F.col("psi_num_fx3").cast("double")
                / (
                    F.col("n_s").cast("double")
                    * (F.col("n_all") - F.col("n_s"))
                    * 1000.0
                )
            ).alias("psi"),
        )
        .orderBy("source")
    )


@query(
    "q_text_naive_bayes",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, (doc_id % 5 = 0) AS is_test, tok,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, lang, is_test, tok
),
cls AS (
  SELECT lang AS c,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS t_c
  FROM toks WHERE NOT is_test GROUP BY lang
),
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train
  FROM toks WHERE NOT is_test
),
ctc AS (
  SELECT tok, lang AS c, CAST(SUM(n) AS BIGINT) AS cnt
  FROM toks WHERE NOT is_test GROUP BY tok, lang
),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, cls.c,
         SUM(t.n * (CAST(FLOOR(ln(CAST(COALESCE(ctc.cnt, 0) + 1
                                      AS DOUBLE)) * 1000000) AS BIGINT)
                    - CAST(FLOOR(ln(CAST(cls.t_c + vocab.v AS DOUBLE))
                                 * 1000000) AS BIGINT))) AS like_fx
  FROM toks t
  CROSS JOIN cls
  CROSS JOIN vocab
  LEFT JOIN ctc ON ctc.tok = t.tok AND ctc.c = cls.c
  WHERE t.is_test
  GROUP BY t.doc_id, t.lang, cls.c
),
post AS (
  SELECT scored.doc_id, scored.true_lang, scored.c,
         scored.like_fx
           + CAST(FLOOR(ln(CAST(cls.n_docs AS DOUBLE)) * 1000000)
                  AS BIGINT)
           - CAST(FLOOR(ln(CAST(vocab.n_train AS DOUBLE)) * 1000000)
                  AS BIGINT) AS score_fx
  FROM scored JOIN cls ON cls.c = scored.c, vocab
),
pred AS (
  SELECT doc_id, true_lang, c AS pred_lang, score_fx,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_fx DESC, c) AS rk
  FROM post
)
SELECT true_lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_fx) AS BIGINT) AS score_checksum_fx
FROM pred WHERE rk = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
""",
)
def q_text_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND scored
    inside the engine: docs with doc_id%5≠0 train per-class token
    counts, the held-out 20% are scored with Laplace-smoothed
    log-likelihoods plus log-priors, and the output is the confusion
    matrix — the complete train→predict→evaluate loop of the classic
    quality/language filter (fastText's ancestor) as pure relational
    algebra. Every log is fixed-point of an exact INTEGER argument
    (count+1, T_c+V, class sizes — the per-vocab-entry trick), so doc
    scores are exact BIGINT sums and the argmax (tiebreak: class name)
    involves no float anywhere; the per-cell score checksum pins the
    posteriors, not just the argmax.

    Scale shape: training is two token-keyed rollups (map-side
    combinable); scoring joins test tokens against the (token, class)
    weight table keyed on the token — at 100 TB that join is the
    standard model-scoring shuffle, bounded by vocab×classes, with
    class stats broadcast (the contingency/marginal pattern of
    q_agg_mutual_information); the confusion rollup is |classes|²."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 5 == 0).alias("is_test"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "lang", "is_test", "tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    toks = scoped_persist(toks)
    train = toks.filter(~F.col("is_test"))
    cls = train.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("t_c"),
    )
    vocab = train.agg(
        F.countDistinct("tok").cast("long").alias("v"),
        F.countDistinct("doc_id").cast("long").alias("n_train"),
    )
    ctc = train.groupBy("tok", F.col("lang").alias("c")).agg(
        F.sum("n").cast("long").alias("cnt")
    )
    lnfx = lambda col: F.floor(
        F.log(col.cast("double")) * 1000000
    ).cast("long")
    test = toks.filter(F.col("is_test")).select(
        "doc_id", F.col("lang").alias("true_lang"), "tok", "n"
    )
    scored = (
        test.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(vocab))
        .join(ctc, ["tok", "c"], "left")
        .select(
            "doc_id",
            "true_lang",
            "c",
            (
                F.col("n")
                * (
                    lnfx(F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                    - lnfx(F.col("t_c") + F.col("v"))
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "true_lang", "c")
        .agg(F.sum("term").cast("long").alias("like_fx"))
    )
    post = (
        scored.join(F.broadcast(cls), "c")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "true_lang",
            "c",
            (
                F.col("like_fx")
                + lnfx(F.col("n_docs"))
                - lnfx(F.col("n_train"))
            ).alias("score_fx"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_fx"), F.asc("c"))
    pred = post.select(
        "true_lang",
        F.col("c").alias("pred_lang"),
        "score_fx",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") == 1)
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score_fx").cast("long").alias("score_checksum_fx"),
        )
        .orderBy("true_lang", "pred_lang")
    )


# Hashing-trick featurizer: bucket count and the md5 char positions
# driving bucket and sign.
FEATURE_HASH_BUCKETS = 256


@query(
    "q_text_feature_hashing",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t
  FROM documents
),
h AS (
  SELECT t, md5('fh:' || t) AS hx FROM tok
),
f AS (
  SELECT t,
         CAST((CAST(strpos('0123456789abcdef', substr(hx, 1, 1)) - 1
                    AS BIGINT) * 256
               + CAST(strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
                      AS BIGINT) * 16
               + CAST(strpos('0123456789abcdef', substr(hx, 3, 1)) - 1
                      AS BIGINT))
              % {FEATURE_HASH_BUCKETS} AS BIGINT) AS bucket,
         CASE WHEN strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 >= 8
              THEN -1 ELSE 1 END AS sign
  FROM h
)
SELECT bucket,
       CAST(SUM(sign) AS BIGINT) AS signed_sum,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_tokens
FROM f
GROUP BY bucket
ORDER BY bucket
""",
)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (signed feature hashing, the
    Weinberger et al. recipe behind Vowpal-Wabbit-style linear models
    and collision-tolerant n-gram features): every token maps to one
    of 256 buckets by hash, with a second hash bit supplying a ±1 sign
    so collisions cancel in expectation rather than bias upward.
    Emits the corpus-level feature profile (signed sum, load, distinct
    tokens per bucket) — the vocabulary-free feature space a 100 TB
    corpus can use with ZERO vocabulary coordination (no dictionary
    build, no OOV, fixed width by construction; contrast
    q_text_bpe_token_counts, which must learn its vocab first).

    Determinism: bucket and sign come from the md5 hex family (3 hex
    chars → 12 bits mod 256, 4th char's high bit → sign) — both
    engines compute identical digests, integer counts end to end.

    Scale shape: explode tokens → one 256-key aggregate; the per-task
    partial collapses to ≤ 256 rows before the shuffle (map-side
    combine), so the exchange is constant-size regardless of corpus.
    The distinct-token count rides the same aggregate via Spark's
    distinct-agg planning (one expand, same bounded key space)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
    hx = F.md5(F.concat(F.lit("fh:"), F.col("t")))
    f = tok.select(
        "t",
        (F.conv(F.substring(hx, 1, 3), 16, 10).cast("long") % FEATURE_HASH_BUCKETS).alias(
            "bucket"
        ),
        F.when(
            F.conv(F.substring(hx, 4, 1), 16, 10).cast("long") >= 8, -1
        )
        .otherwise(1)
        .alias("sign"),
    )
    return (
        f.groupBy("bucket")
        .agg(
            F.sum("sign").cast("long").alias("signed_sum"),
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("t").cast("long").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )
