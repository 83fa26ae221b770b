"""End-to-end training-corpus build: the whole dedup/filter surface as
ONE fail-fast DAG.

The individual operators (quality scoring, exact/near dedup,
decontamination, chunking, splitting, shard export) are each
oracle-verified in isolation; this composes them the way a production
corpus build runs them — one lineage from raw documents to JSONL
training shards, with the reference's V7 discipline (a stage's checks
gate its dependents, plans/runner.py) and an audit trail of row
accounting per stage (the observability role INGESTION_ERRORS plays in
the reference, ``warehouse/duckdb_client.py:47-56``).

Pipeline (each stage a Model, topologically executed):

  corpus_raw → corpus_quality → corpus_exact_dedup → corpus_neardup
     → corpus_clean (decontaminated) → corpus_chunks → corpus_split
     → JSONL shards per split + audit table

Shuffle budget at 100 TB: quality scoring and chunking are pure
projections (zero shuffle); exact dedup is one hash shuffle; near-dup
is the banded MinHash join (never all-pairs); decontamination
broadcasts the eval-gram set; the split is a projection.  Nothing in
the chain shuffles the corpus more than once per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_dedup, tokens, word_shingles
from ..quality.validate import Check, not_null
from ..tables import table
from ..writers.corpus_export import export_jsonl_shards
from .runner import Model, ModelRunner

#: Same knobs as the oracle-verified standalone queries.
EVAL_MOD = 41
DECONTAM_N = 5
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _quality_filter(docs: DataFrame) -> DataFrame:
    """Keep docs the linear quality model accepts (logit > 0).

    Same exact-integer scoring as queries/text_queries.py:
    quality_classifier (weights in tenth-micros over round-6 features).
    """
    from ..operators.text import with_quality_score
    from ..queries.text_queries import CLS_B, CLS_W

    feats = with_quality_score(docs)
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
    return feats.filter(logit_tm > 0).select(*docs.columns)


def _exact_dedup(docs: DataFrame) -> DataFrame:
    """Lowest-id survivor per content hash (one hash shuffle)."""
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        docs.withColumn("content_hash", F.md5(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _neardup_prune(docs: DataFrame) -> DataFrame:
    """Drop the higher-id side of every verified MinHash pair."""
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", k=16, shingle_n=1, bands=4, rows_per_band=4,
        threshold=0.6,
    )
    pruned = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(pruned, "doc_id", "left_anti")


def _decontaminate(docs: DataFrame) -> DataFrame:
    """Drop eval docs and any train doc sharing a 5-gram with them.

    The gram membership test runs behind the Bloom bitset prefilter
    (operators/bloom.py): the corpus-side grams probe an auto-sized
    broadcast bitset in codegen and only maybe-hits reach the exact
    semi-join — lossless (no false negatives), so the stage output is
    identical to the plain semi-join it replaces, but the join input
    stops scaling with the corpus.
    """
    from ..operators.bloom import build_bloom, with_bloom_probe

    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text")), DECONTAM_N))
        ).alias("gram"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    words, nbits = build_bloom(eval_grams, "gram")
    probed = with_bloom_probe(grams.filter(~is_eval), words, nbits, F.col("gram"))
    contaminated = (
        probed.filter(F.col("_maybe"))
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.filter(~is_eval).join(contaminated, "doc_id", "left_anti")


def _chunk(docs: DataFrame) -> DataFrame:
    """Codegen-only sliding chunker (explode(sequence) + slice)."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_STRIDE))).cast("int")
    exploded = docs.select(
        "doc_id",
        "source",
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    window = F.slice(
        F.col("_toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return exploded.select(
        "doc_id",
        "source",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", window).alias("chunk_text"),
        F.size(window).cast("int").alias("n_tokens"),
    )


def _split(chunks: DataFrame) -> DataFrame:
    """Deterministic md5-bucket split (engine-reproducible, no RNG)."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return chunks.withColumn(
        "split",
        F.when(h <= "b", "train").when(h.isin("c", "d"), "val").otherwise("test"),
    )


def _select(docs: DataFrame) -> DataFrame:
    """Data-selection stage: keep target-distribution-like documents.

    Scores the surviving corpus with the DSIR bigram LLR (target =
    English) and the unigram-LM surprisal, then keeps the
    above-median half by importance (the percentile-threshold pattern
    — one tiny aggregate broadcast back, no global sort).  Both scores
    ride along as columns for downstream audit.
    """
    from ..queries.corpus_quality import dsir_weights, unigram_scores

    scored = docs.join(
        dsir_weights(docs).select("doc_id", "avg_llr"), "doc_id"
    ).join(unigram_scores(docs).select("doc_id", "mean_nll"), "doc_id")
    thresh = scored.agg(
        F.expr("percentile(avg_llr, 0.5)").alias("_med")
    )
    return scored.crossJoin(F.broadcast(thresh)).filter(
        F.col("avg_llr") >= F.col("_med")
    ).drop("_med")


def build_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str, select: bool = False
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Run the full corpus build; returns (audit frame, built stages).

    Writes JSONL shards under ``out_dir/shards/split=…`` and the audit
    table under ``out_dir/audit``.  The audit has one row per stage
    with its surviving row count — the accounting a corpus build ships
    so every dropped document is attributable to a stage.

    ``select=True`` inserts the data-selection stage (DSIR importance
    + unigram-LM scoring, target-likeness filter) between
    decontamination and chunking.
    """
    runner = ModelRunner(spark, warehouse_dir=f"{out_dir}/warehouse")
    b = runner.built
    models = [
        Model(
            "corpus_raw",
            lambda s: table(s, sf_dir, "documents"),
            checks=(not_null("doc_id"),),
            unique_keys=(("doc_id",),),
        ),
        Model(
            "corpus_quality",
            lambda s: _quality_filter(b["corpus_raw"]),
            depends_on=("corpus_raw",),
        ),
        Model(
            "corpus_exact_dedup",
            lambda s: _exact_dedup(b["corpus_quality"]),
            depends_on=("corpus_quality",),
            unique_keys=(("content_hash",),),
            materialization="cached",
        ),
        Model(
            "corpus_neardup",
            lambda s: _neardup_prune(b["corpus_exact_dedup"]),
            depends_on=("corpus_exact_dedup",),
            materialization="cached",
        ),
        Model(
            "corpus_clean",
            lambda s: _decontaminate(b["corpus_neardup"]),
            depends_on=("corpus_neardup",),
        ),
    ]
    chunk_input = "corpus_clean"
    if select:
        models.append(
            Model(
                "corpus_selected",
                lambda s: _select(b["corpus_clean"]),
                depends_on=("corpus_clean",),
                materialization="cached",
            )
        )
        chunk_input = "corpus_selected"
    models += [
        Model(
            "corpus_chunks",
            lambda s: _chunk(b[chunk_input]),
            depends_on=(chunk_input,),
            checks=(
                Check(
                    "chunk_len_bounded",
                    (F.col("n_tokens") <= 0)
                    | (F.col("n_tokens") > CHUNK_TOKENS),
                ),
            ),
        ),
        Model(
            "corpus_split",
            lambda s: _split(b["corpus_chunks"]),
            depends_on=("corpus_chunks",),
            materialization="cached",
        ),
    ]
    built = runner.run(models)

    export_jsonl_shards(
        built["corpus_split"].repartition("split").sortWithinPartitions(
            "doc_id", "chunk_idx"
        ),
        f"{out_dir}/shards",
        max_records_per_file=10_000,
    )

    audit_rows = [(m.name, built[m.name].count()) for m in models]
    audit = spark.createDataFrame(audit_rows, "stage string, rows bigint")
    audit.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/audit")
    for m in models:
        if m.materialization == "cached":
            built[m.name].unpersist()
    return audit, built
