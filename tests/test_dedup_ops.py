"""Unit tests for dedup operators: shingling edge cases and the
losslessness of prefix-filtered set-similarity join.

The parity suite (test_oracle_parity) checks these against DuckDB on
the synthetic corpus; here we pin the algorithmic guarantees on
adversarial micro-corpora where the edge cases are explicit.
"""

from __future__ import annotations

from itertools import combinations

import pyspark.sql.functions as F
import pytest

from sleep_edf_data_pipeline_spark.operators.dedup import (
    ngram_jaccard_join,
    tokens,
    word_shingles,
)


def _shingle_set(text: str, n: int) -> set[str]:
    words = text.lower().split()
    if len(words) >= n:
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
    return {" ".join(words)}


def _brute_force(docs: list[tuple[int, str]], n: int, t: float):
    out = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = _shingle_set(ta, n), _shingle_set(tb, n)
        inter = len(sa & sb)
        union = len(sa | sb)
        j = inter / union if union else 0.0
        if j >= t:
            out[(ia, ib)] = round(j, 6)
    return out


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "a completely different document with no overlap at all"),
    (5, "the quick brown fox"),  # short; subset-ish of 1
    (6, "fox"),  # shorter than n -> single whole-doc shingle
    (7, "quick brown"),  # shorter than n
    (8, "quick brown"),  # dup of 7 at the short-doc path
    (9, "over the lazy dog jumps the quick brown fox"),  # permuted words
]


def test_word_shingles_n1_is_token_array(spark):
    df = spark.createDataFrame([("A b  C",)], "text string")
    out = df.select(
        word_shingles(tokens(F.col("text")), 1).alias("s"),
        tokens(F.col("text")).alias("t"),
    ).first()
    assert out.s == out.t == ["a", "b", "c"]


def test_word_shingles_golden(spark):
    df = spark.createDataFrame([("one two three four",), ("one two",)], "text string")
    got = [r.s for r in df.select(word_shingles(tokens(F.col("text")), 3).alias("s")).collect()]
    assert got == [["one two three", "two three four"], ["one two"]]


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ngram_jaccard_join_matches_brute_force(spark, threshold):
    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_join(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert got == _brute_force(CORPUS, 3, threshold)


def test_ngram_jaccard_join_finds_exact_dups(spark):
    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_join(df, "doc_id", "text", n=3, threshold=0.99).collect()
    }
    assert got == {(1, 3): 1.0, (7, 8): 1.0}


# --- Skew helpers: salted plans must equal unsalted plans -------------------


def test_salted_agg_equals_plain(spark):
    from sleep_edf_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"),  # 3 hot keys
        (F.col("id") * 7 % 101).alias("v"),
    )
    plain = {
        (r["k"],): (r["total"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    salted = {
        (r["k"],): (r["total"], r["n"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "total": ("sum", "v"),
                "n": ("count", "v"),
                "lo": ("min", "v"),
                "hi": ("max", "v"),
            },
            n_salts=16,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_non_algebraic(spark):
    from sleep_edf_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(df, ["k"], {"a": ("avg", "v")})


@pytest.mark.parametrize("how", ["inner", "left"])
def test_replicated_join_equals_plain(spark, how):
    from sleep_edf_data_pipeline_spark.operators.skew import replicated_join

    probe = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("pv")
    )
    build = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "z")], "k long, bv string"
    )
    plain = sorted(
        (r["k"], r["pv"], r["bv"]) for r in probe.join(build, ["k"], how).collect()
    )
    salted = sorted(
        (r["k"], r["pv"], r["bv"])
        for r in replicated_join(probe, build, ["k"], n_salts=8, how=how).collect()
    )
    assert salted == plain


def test_cross_split_leakage_is_lsh_pairs_restricted(spark, sf_dir):
    """The leakage audit must be EXACTLY the LSH near-dup pairs whose
    md5-bucket splits differ — no pair invented, none lost, and the
    split labels must match the pure-projection rule used by
    dataset_split_stats (same assignment, same audit)."""
    import hashlib

    from sleep_edf_data_pipeline_spark.queries.dedup_queries import (
        q_cross_split_leakage,
        q_minhash_lsh_neardups,
    )

    def split_of(doc_id: int) -> str:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        if h <= "b":
            return "train"
        if h in ("c", "d"):
            return "val"
        return "test"

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in q_minhash_lsh_neardups(spark, sf_dir).collect()
    }
    expected = {
        (a, b): j
        for (a, b), j in pairs.items()
        if split_of(a) != split_of(b)
    }
    audited = {}
    for r in q_cross_split_leakage(spark, sf_dir).collect():
        assert r["split_a"] == split_of(r["id_a"])
        assert r["split_b"] == split_of(r["id_b"])
        audited[(r["id_a"], r["id_b"])] = r["jaccard"]
    assert audited == expected


def test_incremental_admission_matches_full_corpus_dedup(spark, sf_dir):
    """Against an empty index, incremental admission is the full-corpus
    dedup: it rejects exactly the ``id_b`` side of every verified
    MinHash-LSH pair, and each ``dup_of`` is that doc's smallest
    matching ``id_a``."""
    from sleep_edf_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup,
    )
    from sleep_edf_data_pipeline_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    expected: dict[int, int] = {}
    for r in minhash_lsh_dedup(docs, "doc_id", "text").collect():
        expected[r["id_b"]] = min(r["id_a"], expected.get(r["id_b"], r["id_a"]))
    assert expected, "corpus has no near-dups: the check would be vacuous"

    rows = incremental_minhash_dedup(docs.limit(0), docs, "doc_id", "text").collect()
    assert len(rows) == docs.count()
    assert {r["doc_id"]: r["dup_of"] for r in rows if not r["keep"]} == expected
    assert all(r["dup_of"] is None for r in rows if r["keep"])
