"""End-to-end training-corpus build: the whole dedup/filter surface as
ONE fail-fast DAG.

The individual operators (quality scoring, exact/near dedup,
decontamination, chunking, splitting, shard export) are each
oracle-verified in isolation through the registry query that wraps the
same ``operators/`` definition (this module imports nothing from
``queries/``); this composes them the way a production
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

from ..operators.bloom import build_bloom, with_bloom_probe
from ..operators.dedup import (  # noqa: F401 (DECONTAM_N, EVAL_MOD re-exported)
    DECONTAM_N,
    EVAL_MOD,
    decontam_grams,
    is_eval,
    minhash_lsh_dedup,
)
from ..operators.text import (
    dsir_weights,
    md5_split,
    quality_logit_tm,
    token_chunks,
    unigram_scores,
    with_quality_score,
)
from ..quality.validate import Check, not_null
from ..tables import table
from ..writers.corpus_export import export_jsonl_shards
from .runner import Model, ModelRunner

#: Chunk geometry: 64-token windows every 48 tokens (16-token overlap).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _quality_filter(docs: DataFrame) -> DataFrame:
    """Keep docs the linear quality model accepts (logit > 0)."""
    return (
        with_quality_score(docs)
        .filter(quality_logit_tm() > 0)
        .select(*docs.columns)
    )


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
    grams = decontam_grams(docs)
    eval_grams = grams.filter(is_eval()).select("gram").distinct()
    words, nbits = build_bloom(eval_grams, "gram")
    probed = with_bloom_probe(grams.filter(~is_eval()), words, nbits, F.col("gram"))
    contaminated = (
        probed.filter(F.col("_maybe"))
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.filter(~is_eval()).join(contaminated, "doc_id", "left_anti")


def _select(docs: DataFrame) -> DataFrame:
    """Data-selection stage: keep target-distribution-like documents.

    Scores the surviving corpus with the DSIR bigram LLR (target =
    English) and the unigram-LM surprisal, then keeps the
    above-median half by importance (the percentile-threshold pattern
    — one tiny aggregate broadcast back, no global sort).  Both scores
    ride along as columns for downstream audit.
    """
    scored = docs.join(
        dsir_weights(docs).select("doc_id", "avg_llr"), "doc_id"
    ).join(unigram_scores(docs).select("doc_id", "mean_nll"), "doc_id")
    thresh = scored.agg(
        F.expr("percentile(avg_llr, 0.5)").alias("_med")
    )
    return scored.crossJoin(F.broadcast(thresh)).filter(
        F.col("avg_llr") >= F.col("_med")
    ).drop("_med")


def _cache_entries(spark: SparkSession) -> list:
    """The session's cached plans (``CachedData`` entries), in order.

    Spark has no public listing of cached plans, so this reads the
    cache manager's entry list (classic PySpark only).
    """
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    return [entries.apply(i) for i in range(entries.size())]


def _uncache_new(spark: SparkSession, before: list) -> None:
    """Uncache every plan cached since ``before`` was taken."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    for entry in _cache_entries(spark):
        if entry not in before:
            cm.uncacheQuery(spark._jsparkSession, entry.plan(), False, False)


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

    The frames the build persists — its ``cached`` models and the
    operators' own persists (the MinHash signatures, the DSIR
    histogram) — are released when the build returns or fails, so a
    later build in the session never plans against them (a rewritten
    input would otherwise be served its old signatures).  Frames the
    caller cached before the build stay cached.
    """
    before = _cache_entries(spark)
    try:
        return _build(spark, sf_dir, out_dir, select)
    finally:
        _uncache_new(spark, before)


def _build(
    spark: SparkSession, sf_dir: str, out_dir: str, select: bool
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The stage DAG, the shard export and the audit of build_corpus."""
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
            lambda s: token_chunks(
                b[chunk_input], CHUNK_TOKENS, CHUNK_STRIDE, ("source",)
            ),
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
            lambda s: b["corpus_chunks"].withColumn("split", md5_split()),
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
    return audit, built
