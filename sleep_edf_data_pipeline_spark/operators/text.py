"""Text-analysis operators for training-data pipelines.

Language ID (marker-word heuristic), quality scoring and the linear
quality classifier, token counting, document fingerprinting, token
chunking, the md5 train/val/test split, and the DSIR / unigram-LM
selection scorers — all as JVM-side expressions (regex, array, hash
built-ins), no Python UDFs, so they run inside whole-stage codegen and
scale linearly with the scan.  The corpus build (plans/corpus_pipeline)
and the oracle-checked queries share these definitions.

Counting uses the length-difference-after-regexp_replace idiom rather
than engine-specific count functions so the semantics are portable to
the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64
from .dedup import tokens, word_shingles

#: Marker (stop)words per language for the ID heuristic.  Distinct-hit
#: counting: a language scores one point per marker word present.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of", "is", "to"),
    "es": ("el", "los", "la", "y", "una", "que"),
    "de": ("der", "die", "und", "ein", "nicht", "ist"),
    "fr": ("le", "la", "et", "des", "une", "est"),
}

#: Priority order for deterministic argmax tie-breaks.
LANG_PRIORITY = ("en", "es", "de", "fr")


def char_count(text: Column, char_class: str) -> Column:
    """Number of characters matching a regex class (portable idiom)."""
    return (
        F.length(text) - F.length(F.regexp_replace(text, char_class, ""))
    ).cast("bigint")


def non_ascii_count(text: Column) -> Column:
    """Characters outside printable ASCII (CJK et al.)."""
    return (F.length(F.regexp_replace(text, "[ -~]", ""))).cast("bigint")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: n_tokens, n_unique_tokens, n_chars, avg token len."""
    w = tokens(F.col(text_col))
    return df.withColumns(
        {
            "n_tokens": F.size(w).cast("bigint"),
            "n_unique_tokens": F.size(F.array_distinct(w)).cast("bigint"),
            "n_chars_measured": F.length(F.col(text_col)).cast("bigint"),
            "avg_token_len": F.round(
                (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")))
                .cast("double")
                / F.size(w),
                6,
            ),
        }
    )


def lang_hits(text_col: str, lang: str) -> Column:
    """Distinct marker words of ``lang`` present in the text."""
    w = F.array_distinct(tokens(F.col(text_col)))
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(w, markers)).cast("bigint")


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID with deterministic priority tie-break.

    'zh' wins when non-ASCII characters dominate; otherwise the highest
    marker-hit language in LANG_PRIORITY order; 'und' when nothing hits.
    """
    out = df
    for lang in LANG_PRIORITY:
        out = out.withColumn(f"{lang}_hits", lang_hits(text_col, lang))
    out = out.withColumn("zh_hits", non_ascii_count(F.col(text_col)))

    # CASE in priority order: earlier WHENs win ties.
    cond_zh = F.col("zh_hits") > F.greatest(
        *[F.col(f"{lang}_hits") for lang in LANG_PRIORITY]
    )
    chain = F.when(cond_zh, F.lit("zh"))
    for lang in LANG_PRIORITY:
        others = [F.col(f"{o}_hits") for o in LANG_PRIORITY if o != lang]
        is_best = (F.col(f"{lang}_hits") > 0) & (
            F.col(f"{lang}_hits") >= F.greatest(*others)
        )
        chain = chain.when(is_best, F.lit(lang))
    return out.withColumn("predicted_lang", chain.otherwise(F.lit("und")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score.

    length score, alpha ratio, stopword presence, token diversity —
    weighted into [0, 1]-ish; the exact formula is the contract, the
    point is the *shape* (cheap, columnar, scan-fused).
    """
    text = F.col(text_col)
    w = tokens(text)
    n_chars = F.length(text).cast("double")
    alpha_ratio = char_count(text, "[a-z]").cast("double") / F.when(
        n_chars > 0, n_chars
    )
    space_ratio = char_count(text, r"\s").cast("double") / F.when(
        n_chars > 0, n_chars
    )
    stop_ratio = lang_hits(text_col, "en").cast("double") / F.lit(
        float(len(LANG_MARKERS["en"]))
    )
    diversity = F.size(F.array_distinct(w)).cast("double") / F.when(
        F.size(w) > 0, F.size(w).cast("double")
    )
    len_score = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    return df.withColumns(
        {
            "alpha_ratio": F.round(alpha_ratio, 6),
            "space_ratio": F.round(space_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "token_diversity": F.round(diversity, 6),
            "length_score": F.round(len_score, 6),
            "quality_score": F.round(
                F.lit(0.3) * len_score
                + F.lit(0.3) * diversity
                + F.lit(0.2) * alpha_ratio
                + F.lit(0.2) * stop_ratio,
                6,
            ),
        }
    )


#: Linear quality-classifier weights (offline-trained contract; the
#: engine's job is broadcastable scoring, not training).  Ordered as
#: (alpha_ratio, space_ratio, stopword_ratio, token_diversity,
#: length_score); bias calibrated to split this corpus near its median.
CLS_W = (2.0, -1.5, 3.0, 1.5, 0.8)
CLS_B = -3.5


def quality_logit_tm() -> Column:
    """The classifier logit w·x + b in tenth-micro units, as a BIGINT.

    Reads the round-6 features of :func:`with_quality_score`.  The dot
    product runs in exact integer arithmetic: ``round(x·10⁶)`` recovers
    each feature's exact integer micros in any IEEE engine, and the
    weights ×10 are integers — a float dot product is NOT cross-engine
    stable (DuckDB's FMA contraction flipped one round-6 boundary in
    500 docs at sf0.01).
    """
    cols = (
        "alpha_ratio",
        "space_ratio",
        "stopword_ratio",
        "token_diversity",
        "length_score",
    )
    logit_tm = F.lit(int(CLS_B * 10) * 1_000_000)
    for w, c in zip(CLS_W, cols):
        logit_tm = logit_tm + F.lit(int(w * 10)) * F.round(
            F.col(c) * 1e6
        ).cast("bigint")
    return logit_tm


def with_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of normalized text + 60-bit short hash.

    Normalization: lowercase + whitespace collapse — stable under
    reflow, the standard canonicalization before exact dedup.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumns(
        {
            "fingerprint_md5": F.md5(norm),
            "fingerprint_64": hash64(norm),
        }
    )


def token_chunks(
    docs: DataFrame, width: int, stride: int, carry: Sequence[str] = ()
) -> DataFrame:
    """Sliding token windows: ``width`` space-split tokens every ``stride``.

    Codegen-only: ``explode(sequence(0, n_chunks-1))`` synthesizes the
    chunk index, ``slice`` carves the window and ``concat_ws`` re-joins
    it, so the one-row-in-N-rows-out expansion has no shuffle and no
    Python.  A null text explodes a null sequence and emits no rows.
    Returns (doc_id, *carry, chunk_idx, chunk_text, n_tokens).
    """
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(stride))).cast("int")
    exploded = docs.select(
        "doc_id",
        *carry,
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    window = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, width)
    return exploded.select(
        "doc_id",
        *carry,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", window).alias("chunk_text"),
        F.size(window).cast("int").alias("n_tokens"),
    )


def md5_split(id_col: str = "doc_id") -> Column:
    """Deterministic train/val/test bucket of an id: no RNG state.

    The first hex digit of md5(id): 12/16 buckets → train, 2 → val,
    2 → test.  Any engine can re-derive the same split, which is what
    matters when a corpus is split once and consumed forever.
    """
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return (
        F.when(h <= "b", "train")
        .when(h.isin("c", "d"), "val")
        .otherwise("test")
    )


#: DSIR hashed-feature space (buckets for bigram counts).
DSIR_BUCKETS = 4096


def dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, total_llr, avg_llr) over (doc_id, lang, text).

    DSIR (Xie et al., NeurIPS 2023): per-document log-likelihood ratio
    between a target distribution (``lang = 'en'``) and the raw corpus
    over hashed bigram buckets.  Laplace-smoothed probabilities are
    exact integer ratios, and log-ratios are quantized to integer
    micro-nats (``round(ln(r)·1e6)``), so per-doc sums are order-free
    BIGINTs — bit-stable in any engine.

    The expensive work (tokenize → shingle → hash the whole corpus)
    happens ONCE: everything aggregates from the per-doc bucket
    histogram ``hist`` (≤4096 rows per doc, far smaller than the gram
    stream), and both consumers of ``hist`` — the per-bucket count
    table and the final per-doc sum — share the identical
    (doc_id, lang, bucket) aggregation subtree.
    """
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(word_shingles(tokens(F.col("text")), 2)).alias("gram"),
    ).withColumn("bucket", hash64(F.col("gram")) % DSIR_BUCKETS)
    # persist + materialize: the LLR table is built as a BROADCAST
    # (its own job), which defeats exchange reuse — unpersisted, the
    # corpus explodes once per consumer.  hist is O(docs × 4096) —
    # far smaller than the gram stream — and the caller releases it
    # like every other constructor persist (build_corpus drops what
    # its build cached; query harnesses call clearCache).
    hist = (
        grams.groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    hist.count()
    per_bucket = hist.groupBy("bucket").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
    )
    totals = per_bucket.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    b = F.lit(DSIR_BUCKETS).cast("bigint")
    llr_micro = F.round(
        F.log(
            ((F.col("ct") + 1) * (F.col("nr") + b)).cast("double")
            / ((F.col("cr") + 1) * (F.col("nt") + b)).cast("double")
        )
        * F.lit(1e6)
    ).cast("bigint")
    llr = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket", llr_micro.alias("llr_micro")
    )
    return (
        hist.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.col("llr_micro")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("_s").cast("double") / F.lit(1e6)).alias("total_llr"),
            (
                F.col("_s").cast("double")
                / (F.lit(1e6) * F.col("n_grams").cast("double"))
            ).alias("avg_llr"),
        )
    )


def unigram_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_nll): mean per-token surprisal under the
    corpus's own unigram LM (the CCNet-style quality proxy).

    Each token's surprisal ``ln(N/count)`` is quantized once to integer
    micro-nats, and the per-doc mean is an exact BIGINT sum divided
    once — order-free.  The vocabulary frame broadcasts.
    """
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = toks.agg(F.count("*").alias("n_total"))
    sur = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.round(
                F.log(F.col("n_total").cast("double") / F.col("c").cast("double"))
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("sur_micro"),
        )
    )
    return (
        toks.join(F.broadcast(sur), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("sur_micro").alias("_s"))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("_s").cast("double")
                / (F.lit(1e6) * F.col("n_tokens").cast("double"))
            ).alias("mean_nll"),
        )
    )
