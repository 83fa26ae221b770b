"""End-to-end corpus build: accounting, gating, and shard round-trip."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.plans.corpus_pipeline import (
    CHUNK_TOKENS,
    EVAL_MOD,
    build_corpus,
)
from sleep_edf_data_pipeline_spark.quality.validate import CheckFailure
from sleep_edf_data_pipeline_spark.tables import table


def test_corpus_build_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    audit, built = build_corpus(spark, sf_dir, out)
    rows = {r["stage"]: r["rows"] for r in audit.collect()}

    # row accounting: every doc filter stage is monotone non-increasing;
    # chunking may expand; the split is a pure projection.
    assert rows["corpus_raw"] > 0
    assert rows["corpus_quality"] <= rows["corpus_raw"]
    assert rows["corpus_exact_dedup"] <= rows["corpus_quality"]
    assert rows["corpus_neardup"] <= rows["corpus_exact_dedup"]
    assert rows["corpus_clean"] <= rows["corpus_neardup"]
    assert rows["corpus_chunks"] >= rows["corpus_clean"]
    assert rows["corpus_split"] == rows["corpus_chunks"]
    # something must survive AND something must be dropped, or the
    # pipeline isn't exercising its filters on this corpus.
    assert 0 < rows["corpus_split"]
    assert rows["corpus_clean"] < rows["corpus_raw"]

    # shard round-trip: JSONL shards hold exactly the split frame
    shards = spark.read.json(f"{out}/shards")
    assert shards.count() == rows["corpus_split"]
    assert set(
        r[0] for r in shards.select("split").distinct().collect()
    ) <= {"train", "val", "test"}

    # chunk contract + decontamination contract hold in the OUTPUT
    bad_len = shards.filter(
        (F.col("n_tokens") <= 0) | (F.col("n_tokens") > CHUNK_TOKENS)
    ).count()
    assert bad_len == 0
    assert shards.filter(F.col("doc_id") % EVAL_MOD == 0).count() == 0

    # audit table persisted alongside the shards
    audit_disk = spark.read.parquet(f"{out}/audit")
    assert {r["stage"]: r["rows"] for r in audit_disk.collect()} == rows


def test_corpus_build_gates_on_duplicate_ids(spark, sf_dir, tmp_path):
    """V7 gating: a corrupted source (duplicate doc_id) must abort the
    build at corpus_raw, before any downstream stage materializes."""
    import sleep_edf_data_pipeline_spark.plans.corpus_pipeline as cp

    dup = cp.table(spark, sf_dir, "documents")
    corrupted = dup.unionByName(dup.limit(1))
    orig = cp.table
    try:
        cp.table = lambda s, d, n: corrupted
        with pytest.raises(CheckFailure, match="unique"):
            build_corpus(spark, sf_dir, str(tmp_path / "x"))
    finally:
        cp.table = orig


def test_corpus_build_with_selection(spark, sf_dir, tmp_path):
    """select=True inserts the DSIR/unigram selection stage: accounting
    stays monotone, the selected frame carries both scores, and only
    target-likely (avg_llr >= 0) docs reach the shards."""
    from sleep_edf_data_pipeline_spark.plans.corpus_pipeline import build_corpus

    out = str(tmp_path / "corpus_sel")
    audit, built = build_corpus(spark, sf_dir, out, select=True)
    rows = {r["stage"]: r["rows"] for r in audit.collect()}
    assert rows["corpus_selected"] <= rows["corpus_clean"]
    # the above-median rule must keep at least half (ties inclusive)
    assert rows["corpus_selected"] >= rows["corpus_clean"] // 2
    assert rows["corpus_split"] == rows["corpus_chunks"]
    sel = built["corpus_selected"]
    assert {"avg_llr", "mean_nll"} <= set(sel.columns)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_corpus_build_releases_what_it_cached(spark, sf_dir, tmp_path):
    """build_corpus leaves no cached frame behind: neither its cached
    models nor the operators' own persists (the MinHash signatures and,
    on the select path, the DSIR histogram).  A frame the caller cached
    before the build stays cached.  The input is a private copy, so no
    frame cached by an earlier build can stand in for this build's."""
    src = tmp_path / "src"
    src.mkdir()
    shutil.copyfile(f"{sf_dir}/documents.parquet", src / "documents.parquet")
    mine = table(spark, str(src), "documents").select("doc_id").persist()
    mine.count()
    before = _persistent_rdd_ids(spark)
    build_corpus(spark, str(src), str(tmp_path / "out"), select=True)
    assert _persistent_rdd_ids(spark) - before == set()
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_corpus_rebuild_of_rewritten_input_matches_clean_build(
    spark, sf_dir, sf_dir_mid, tmp_path
):
    """Rewrite the documents file in place and build again in the same
    session: the audit must equal a build over a fresh copy of the new
    data.  A signature frame left cached by the first build matches the
    second build's plan (same path) and would serve the old documents'
    near-dup pairs."""
    src = tmp_path / "src"
    src.mkdir()
    shutil.copyfile(f"{sf_dir_mid}/documents.parquet", src / "documents.parquet")
    build_corpus(spark, str(src), str(tmp_path / "first"))

    shutil.copyfile(f"{sf_dir}/documents.parquet", src / "documents.parquet")
    audit, _ = build_corpus(spark, str(src), str(tmp_path / "second"))

    fresh = tmp_path / "fresh"
    fresh.mkdir()
    shutil.copyfile(f"{sf_dir}/documents.parquet", fresh / "documents.parquet")
    clean, _ = build_corpus(spark, str(fresh), str(tmp_path / "clean"))
    assert sorted(audit.collect()) == sorted(clean.collect())
