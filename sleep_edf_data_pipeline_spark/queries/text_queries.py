"""Oracle-checked text-analysis queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import (
    CLS_B,
    CLS_W,
    LANG_MARKERS,
    LANG_PRIORITY,
    quality_logit_tm,
    with_fingerprints,
    with_language_id,
    with_quality_score,
    with_token_stats,
)
from ..tables import spread, table

H64 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats per document."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_unique_tokens", "n_chars_measured", "avg_token_len"
    )


ORACLE_TOKEN_STATS = """
WITH t AS (
    SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS words
    FROM documents
)
SELECT
    doc_id,
    CAST(len(words) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(words)) AS BIGINT) AS n_unique_tokens,
    CAST(length(text) AS BIGINT) AS n_chars_measured,
    round(
        CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(words),
        6
    ) AS avg_token_len
FROM t
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs the labeled lang column."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return with_language_id(docs).select(
        "doc_id",
        "lang",
        *[f"{lang}_hits" for lang in LANG_PRIORITY],
        "zh_hits",
        "predicted_lang",
    )


def _hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(len(list_intersect(list_distinct("
        f"regexp_split_to_array(lower(text), '\\s+')), [{markers}])) AS BIGINT)"
    )


_LANG_CASE = (
    "CASE WHEN zh_hits > greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'zh'\n"
    + "\n".join(
        f"     WHEN {lang}_hits > 0 AND {lang}_hits >= greatest("
        + ", ".join(f"{o}_hits" for o in LANG_PRIORITY if o != lang)
        + f") THEN '{lang}'"
        for lang in LANG_PRIORITY
    )
    + "\n     ELSE 'und' END"
)

ORACLE_LANGUAGE_ID = (
    "WITH hits AS (\n    SELECT doc_id, lang,\n"
    + ",\n".join(f"        {_hits_sql(lang)} AS {lang}_hits" for lang in LANG_PRIORITY)
    + ",\n        CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS BIGINT)"
    + " AS zh_hits\n    FROM documents\n)\n"
    + "SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits, zh_hits,\n"
    + _LANG_CASE
    + " AS predicted_lang\nFROM hits"
)


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features + composite score."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return with_quality_score(docs).select(
        "doc_id",
        "alpha_ratio",
        "space_ratio",
        "stopword_ratio",
        "token_diversity",
        "length_score",
        "quality_score",
    )


_EN_MARKERS = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])

ORACLE_QUALITY_SCORES = f"""
WITH t AS (
    SELECT
        doc_id,
        CAST(length(text) AS DOUBLE) AS n_chars,
        regexp_split_to_array(lower(text), '\\s+') AS words,
        CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
            AS n_alpha,
        CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
            AS n_space,
        CAST(len(list_intersect(list_distinct(
            regexp_split_to_array(lower(text), '\\s+')), [{_EN_MARKERS}])) AS DOUBLE)
            AS en_hits
    FROM documents
),
feat AS (
    SELECT
        doc_id,
        n_alpha / nullif(n_chars, 0) AS alpha_ratio,
        n_space / nullif(n_chars, 0) AS space_ratio,
        en_hits / {float(len(LANG_MARKERS["en"]))} AS stopword_ratio,
        CAST(len(list_distinct(words)) AS DOUBLE)
            / nullif(CAST(len(words) AS DOUBLE), 0) AS token_diversity,
        least(n_chars / 400.0, 1.0) AS length_score
    FROM t
)
SELECT
    doc_id,
    round(alpha_ratio, 6) AS alpha_ratio,
    round(space_ratio, 6) AS space_ratio,
    round(stopword_ratio, 6) AS stopword_ratio,
    round(token_diversity, 6) AS token_diversity,
    round(length_score, 6) AS length_score,
    round(
        0.3 * length_score + 0.3 * token_diversity
        + 0.2 * alpha_ratio + 0.2 * stopword_ratio,
        6
    ) AS quality_score
FROM feat
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + 60-bit fingerprints of whitespace-normalized text."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return with_fingerprints(docs).select(
        "doc_id", "fingerprint_md5", "fingerprint_64"
    )


ORACLE_DOC_FINGERPRINTS = f"""
WITH t AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
)
SELECT
    doc_id,
    md5(norm) AS fingerprint_md5,
    {H64.format(s="norm")} AS fingerprint_64
FROM t
"""



def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (deterministic tie-break).

    The classic relevance/keyword-extraction op: term frequency per
    (doc, token) x ln(N/df).  All counts are exact integers, so tfidf
    is a deterministic double on both engines; ties (same tf and df)
    break on token order.  Two shuffles at scale: (doc, token) count
    and token df — both map-side combinable; the doc-count scalar
    broadcasts.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df_docs")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        # Java Math.log and libm ln disagree in the last ulp on ~1 in 5
        # inputs; 6-decimal rounding (the driver's hash precision) makes
        # the *output* portable while ranking stays on full precision.
        .select(
            "doc_id", "term", "tf", "df_docs", F.round("tfidf", 6).alias("tfidf"), "rank"
        )
    )


ORACLE_TFIDF_TOP_TERMS = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, term
),
df AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term
),
scored AS (
    SELECT
        tf.doc_id, tf.term, tf.tf, df.df_docs,
        CAST(tf.tf AS DOUBLE)
            * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df_docs)
            AS tfidf
    FROM tf JOIN df USING (term)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
    ) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df_docs, round(tfidf, 6) AS tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: global top-20 tokens.

    Exact (not sketched) heavy hitters; the per-token partial counts
    combine map-side so the shuffle carries one row per distinct token
    per partition, and only the 20-row result reaches the driver.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


ORACLE_VOCAB_TOP_TOKENS = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
    FROM documents
)
SELECT token,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 20
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality model scored engine-side.

    The production pattern for model-based corpus filtering at 100 TB:
    weights are a handful of floats folded into the projection as
    literals (broadcast-by-constant), scoring is one fused columnar
    expression over features already computed in the scan stage — no
    UDF, no model server round-trip.  The score stays in logit space
    (w·x + b, no transcendental); :func:`quality_logit_tm` computes it
    in exact integer arithmetic.
    """
    logit_tm = quality_logit_tm()
    # NO round(·, 6) here: the logit's exact value has 7 decimals
    # (tenth-micro units), so a 6-digit round ties on a half boundary
    # whenever the last digit is 5 — exactly where Spark (shortest-repr
    # HALF_UP) and DuckDB (binary-value) rounding diverge.  The single
    # division of identical BIGINTs is already bit-identical.
    return q_quality_scores(spark, sf_dir).select(
        "doc_id",
        (logit_tm.cast("double") / F.lit(1e7)).alias("quality_logit"),
        (logit_tm > 0).alias("is_quality"),
    )


_CLS_TERMS = " + ".join(
    f"({int(w * 10)} * CAST(round({c} * 1000000) AS BIGINT))"
    for w, c in zip(
        CLS_W,
        ("alpha_ratio", "space_ratio", "stopword_ratio", "token_diversity", "length_score"),
    )
)

ORACLE_QUALITY_CLASSIFIER = f"""
SELECT doc_id,
       CAST({_CLS_TERMS} + {int(CLS_B * 10) * 1_000_000} AS DOUBLE) / 1e7
           AS quality_logit,
       ({_CLS_TERMS} + {int(CLS_B * 10) * 1_000_000}) > 0 AS is_quality
FROM ({ORACLE_QUALITY_SCORES})
"""


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bands: classifier logit vs the Gopher heuristic.

    The model-eval op every filtering pipeline runs before trusting a
    classifier at scale: bucket documents into 0.25-wide logit bands
    (``floor(quality_logit · 4)`` — the logit doubles are bit-identical
    cross-engine and ×4 is exact power-of-two scaling, so the floor
    is engine-identical too) and measure, per band, how
    often the independent rule-based Gopher filter agrees.  A
    well-calibrated model shows pass-rate rising monotonically with
    the band.

    Plan: two document projections joined on doc_id (one co-partition
    shuffle; at 100 TB both sides hash the same key so AQE co-locates
    them) and one tiny band rollup.  The mean logit per band folds the
    exact tenth-micro BIGINT (recovered via round(logit·1e7) — the
    established micros pattern), so every aggregate is order-free.
    """
    from .corpus_filters import q_gopher_quality_flags

    cls = q_quality_classifier(spark, sf_dir).select("doc_id", "quality_logit")
    gof = q_gopher_quality_flags(spark, sf_dir).select("doc_id", "passes")
    logit_tm = F.round(F.col("quality_logit") * F.lit(1e7)).cast("bigint")
    return (
        cls.join(gof, "doc_id")
        .select(
            F.floor(F.col("quality_logit") * F.lit(4.0)).cast("int").alias("band"),
            logit_tm.alias("tm"),
            F.col("passes").cast("int").alias("p"),
        )
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("p").cast("bigint").alias("n_gopher_pass"),
            F.sum("tm").cast("bigint").alias("_stm"),
        )
        .select(
            "band",
            "n_docs",
            "n_gopher_pass",
            (
                F.col("n_gopher_pass").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("gopher_pass_rate"),
            (
                F.col("_stm").cast("double")
                / (F.col("n_docs").cast("double") * F.lit(1e7))
            ).alias("mean_logit"),
        )
    )


def _calibration_oracle() -> str:
    from .corpus_filters import ORACLE_GOPHER_QUALITY_FLAGS

    return f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
gof AS ({ORACLE_GOPHER_QUALITY_FLAGS}),
j AS (
    SELECT CAST(floor(c.quality_logit * 4.0) AS INT) AS band,
           CAST(round(c.quality_logit * 1e7) AS BIGINT) AS tm,
           CASE WHEN g.passes THEN 1 ELSE 0 END AS p
    FROM cls c JOIN gof g ON c.doc_id = g.doc_id
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p) AS BIGINT) AS n_gopher_pass,
       CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gopher_pass_rate,
       CAST(sum(tm) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e7) AS mean_logit
FROM j
GROUP BY band
"""


QUERIES = {
    "quality_classifier": q_quality_classifier,
    "classifier_calibration": q_classifier_calibration,
    "token_stats": q_token_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "vocab_top_tokens": q_vocab_top_tokens,
    "language_id": q_language_id,
    "quality_scores": q_quality_scores,
    "doc_fingerprints": q_doc_fingerprints,
}

ORACLES = {
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "classifier_calibration": _calibration_oracle(),
    "token_stats": ORACLE_TOKEN_STATS,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "vocab_top_tokens": ORACLE_VOCAB_TOP_TOKENS,
    "language_id": ORACLE_LANGUAGE_ID,
    "quality_scores": ORACLE_QUALITY_SCORES,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
}
