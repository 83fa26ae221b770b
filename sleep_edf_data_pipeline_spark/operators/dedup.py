"""Deduplication operators for large-scale document corpora.

Beyond-reference operators (BASELINE.json north star): exact dedup,
MinHash + LSH banding, SimHash, and n-gram Jaccard — each expressed
with JVM-side array/higher-order functions only (``transform``,
``array_min``, ``posexplode``…): no Python UDF in the hot path, so
whole-stage codegen applies and the operators scale to 100 TB by
sharding on hash keys.

Scale notes:
- exact dedup groups on a 60-bit content hash, not the full text →
  shuffle rows are (hash, id) pairs, bytes-per-row independent of
  document size.
- LSH candidate generation is an equi-join on (band_idx, band_hash):
  Catalyst plans a plain shuffled hash join keyed on small fixed-width
  values; skewed buckets (a band hash shared by thousands of docs) are
  split by AQE skew-join handling.
- signatures/bands are recomputed per side rather than cached —
  cheaper than materializing at PB scale; callers can persist the
  signature frame when reused.

Banded near-dup search is a filter-verify pipeline (cheap candidates
from an equi-join on hash keys, then an exact check of the candidates
only), and each of its four stages is written once here:

- :func:`_signed` — explode shingles, hash each once, and take the k
  MinHash permutation mins (plus any per-doc extras) in one groupBy;
- :func:`band_keys` — ``xxhash64`` of each signature slice: the one
  band encoding, shared by the batch index and the streaming
  admission (streaming/dedup.py);
- :func:`_first_match_pairs` — self-join on (key index, key value),
  emitting each pair only at its lowest matching index;
- :func:`_verified` — join both sides' hash sets onto the candidates
  and keep pairs whose exact Jaccard reaches the threshold.

``with_minhash``, ``minhash_lsh_dedup``, ``incremental_minhash_dedup``,
``simhash_near_dups`` and ``ngram_jaccard_join`` compose them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64, perm_coeffs, perm_hash


def tokens(text_col: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(text_col), r"\s+")


def word_shingles(words: Column, n: int = 3) -> Column:
    """n-word shingles; documents shorter than n words get one shingle.

    n == 1 short-circuits to the token array itself: the generic
    ``sequence``+``transform`` path is an interpreted higher-order
    function (no codegen) and measured ~8x slower than the plain
    column it would reproduce.
    """
    if n == 1:
        return words
    idx = F.sequence(F.lit(0), F.size(words) - n)
    make = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + k + 1) for k in range(n)])
    )
    return F.when(F.size(words) >= n, make).otherwise(
        F.array(F.concat_ws(" ", words))
    )


#: Every id ≡ 0 (mod EVAL_MOD) is the held-out "benchmark" set the
#: train side must be decontaminated against (~2.4% of the corpus —
#: benchmark sets are tiny relative to training corpora, which is what
#: makes broadcasting the eval side the right plan).
EVAL_MOD = 41

#: n-gram width for contamination matching.  GPT-3 used 13-gram overlap
#: on natural text; the synthetic corpus has ~40 distinct tokens, so a
#: 5-gram keeps the collision rate in the regime the real filter
#: operates in (rare-but-present matches).
DECONTAM_N = 5


def is_eval(id_col: str = "doc_id") -> Column:
    """True for the rows of the held-out eval split."""
    return F.col(id_col) % EVAL_MOD == 0


def decontam_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram): each document's distinct DECONTAM_N-word shingles."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text")), DECONTAM_N))
        ).alias("gram"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on a content hash: one row per distinct text.

    Returns (text_hash, kept_id = min id, n_copies).
    """
    return (
        df.select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("_id")
        )
        .groupBy("text_hash")
        .agg(F.min("_id").alias("kept_id"), F.count("*").alias("n_copies"))
    )


def _signed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    shingle_n: int,
    *extra_aggs: Column,
) -> DataFrame:
    """Per-doc MinHash mins ``_m0.._m{k-1}`` from one groupBy.

    One md5 per *shingle* (not per shingle×seed): explode shingles,
    base-hash each once (``_h``) in whole-stage codegen, then derive
    the k "permutations" with the universal-hash family ``(a_j·h +
    b_j) mod p`` and take k ``min`` aggregates in a single
    map-side-combining groupBy.  At 100 TB this shuffles only (id, k×8
    bytes) partials — document text never crosses the wire — and
    avoids the interpreted higher-order-function path entirely (a
    naive per-seed seeded-md5 ``transform`` formulation measured 159×
    slower than the DuckDB oracle at sf0.1; this one is at parity).

    ``extra_aggs`` ride the same groupBy and may read ``_h`` (e.g. the
    distinct-shingle-hash set the verify stage needs, so text is
    hashed once and never re-shingled).  Every column of ``df`` other
    than the id and the text comes along as its ``first`` value.
    """
    rest = [c for c in df.columns if c not in (id_col, text_col)]
    sh = df.select(
        F.col(id_col),
        *rest,
        F.explode(word_shingles(tokens(F.col(text_col)), shingle_n)).alias("_s"),
    ).withColumn("_h", hash64(F.col("_s")))
    return sh.groupBy(id_col).agg(
        *[
            F.min(perm_hash(F.col("_h"), a, b)).alias(f"_m{j}")
            for j, (a, b) in enumerate(perm_coeffs(k))
        ],
        *extra_aggs,
        *[F.first(c).alias(c) for c in rest],
    )


def band_keys(sig: Sequence[Column], bands: int, rows_per_band: int) -> list[Column]:
    """LSH band keys: ``xxhash64`` of each ``rows_per_band``-wide slice of ``sig``.

    The one band encoding: the batch LSH operators self-join on these
    keys and the streaming admission probes a batch-signed index with
    them, so equal signature slices get equal keys on every path by
    construction.  Band hashes are internal — only slice *equality*
    matters — so the engine-specific xxhash64 is safe here.
    """
    return [
        F.xxhash64(*sig[b * rows_per_band : (b + 1) * rows_per_band])
        for b in range(bands)
    ]


def _first_match_pairs(
    df: DataFrame,
    id_col: str,
    keys: Sequence[Column],
    carry: Sequence[str],
    keep: Column,
) -> DataFrame:
    """Candidate pairs from a self-join on (key index, key value).

    Two rows pair when they agree on any of ``keys`` (LSH bands,
    SimHash chunks).  A pair is emitted ONLY from the lowest key index
    where they agree (at every earlier index the keys must differ), so
    candidate pairs are unique by construction and no distinct shuffle
    runs over the exploded pair set.

    ``carry`` columns come out per side as ``<c>_a`` / ``<c>_b``;
    ``keep`` is the pair predicate over ``id_a``, ``id_b`` and those.
    Returns (id_a, id_b, carried columns).
    """
    long = df.select(F.col(id_col), *carry, F.array(*keys).alias("_keys")).select(
        F.col(id_col), *carry, "_keys", F.posexplode("_keys").alias("_ki", "_kv")
    )

    def side(s: str) -> DataFrame:
        return long.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            F.col("_keys").alias(f"_k{s}"),
            "_ki",
            "_kv",
        )

    cond = keep
    for j in range(len(keys) - 1):
        cond = cond & (
            (F.col("_ki") <= j)
            | (F.element_at("_ka", j + 1) != F.element_at("_kb", j + 1))
        )
    return (
        side("a")
        .join(side("b"), ["_ki", "_kv"])
        .filter(cond)
        .select("id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry])
    )


def _verified(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidates on per-doc hash sets.

    Only the candidate pairs pull their two sets; Jaccard is
    ``|A∩B| / (|A|+|B|-|A∩B|)`` rounded to 6 places — no union array
    is materialized, and intersecting fixed-width hashes beats
    intersecting strings.  Returns (id_a, id_b, jaccard ≥ threshold).
    """

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col(set_col).alias(f"set_{s}"),
            F.size(set_col).alias(f"n_{s}"),
        )

    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: (id, sig array<bigint> length k); see :func:`_signed`."""
    mins = _signed(df.select(id_col, text_col), id_col, text_col, k, shingle_n)
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{j}") for j in range(k)]).alias("sig"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_n: int = 1,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.6,
    candidates_only: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) for verified pairs ≥ threshold.

    ``candidates_only=True`` stops after the banded candidate
    generation and returns the unique (id_a, id_b) pairs UNVERIFIED —
    for compositions that intersect the candidates with a frame whose
    pairs ALREADY satisfy the exact-Jaccard threshold (the recall
    audit): there the verify stage is an identity on every surviving
    row (identical token-hash sets, identical round-6 comparison), so
    skipping it drops two pair-scale set joins, the per-pair
    ``array_intersect``, and the ``collect_set`` half of the signature
    aggregation without changing any result (guide §1.2: don't compute
    what the composition throws away).

    One pass over the exploded shingles computes BOTH the k minhash
    mins and the distinct-shingle-hash set (``collect_set``); candidate
    generation runs on a slim (id, band keys) frame, and the per-doc
    hash sets join back only onto the distinct candidate pairs.  The
    signature frame is persisted: it is read three times (two band
    sides, set join) and is tiny relative to the corpus (k×8B + the
    distinct token hashes per doc).
    """
    set_aggs = [] if candidates_only else [F.collect_set("_h").alias("_hset")]
    agg = _signed(
        df.select(id_col, text_col), id_col, text_col, k, shingle_n, *set_aggs
    ).persist()
    keys = band_keys([F.col(f"_m{j}") for j in range(k)], bands, rows_per_band)
    cands = _first_match_pairs(agg, id_col, keys, [], F.col("id_a") < F.col("id_b"))
    if candidates_only:
        return cands
    return _verified(cands, agg, id_col, "_hset", threshold)


def ngram_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-Jaccard set-similarity self-join via prefix filtering.

    AllPairs-style (Bayardo et al., WWW'07) lossless blocking: order
    each document's distinct shingle hashes by global document
    frequency (rarest first, hash tie-break), emit only the first
    ``|d| - ceil(t*|d|) + 1`` shingles as join keys — any pair with
    Jaccard ≥ t provably shares a prefix element, so the candidate set
    is complete and the result is *independent of the blocking*
    (the oracle is a plain brute-force all-pairs join).  A length
    filter (``t*|a| ≤ |b|``) prunes candidates before the verify join.

    Scale: the only all-corpus structures are the shingle
    doc-frequency table (vocabulary-sized) and the per-doc hash sets
    (smaller than the corpus); candidate volume is bounded by prefix
    rarity rather than bucket width, which is what lets exact
    similarity self-joins run at 100 TB where brute force is O(n²).

    On top of prefix+length filtering, the PPJoin POSITIONAL filter
    (Xiao et al., WWW'08) prunes candidates before the verify join:
    a shared prefix element at (1-based) positions ``pa``/``pb`` of
    the two ordered sets bounds the overlap at
    ``min(pa, pb) - 1 + 1 + min(n_a - pa, n_b - pb)`` (shared
    elements strictly before the match on both sides, the match, and
    shared elements after it).  Every shared element bounds the SAME
    true overlap, so the pair survives only if the MINIMUM bound
    reaches the Jaccard-equivalent overlap floor
    ``t/(1+t)·(n_a+n_b)`` — computed with a 1e-6 slack so pairs that
    only reach the threshold after the verify stage's round-to-6
    cannot be pruned.  This is what keeps candidate volume near-linear
    as corpus (and therefore per-shingle document frequency) grows:
    frequent-shingle matches deep in both prefixes are exactly the
    ones the bound kills.

    Returns (id_a, id_b, jaccard ≥ threshold).
    """
    sh = (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("_s"),
        )
        .select(F.col(id_col), hash64(F.col("_s")).alias("_h"))
        .distinct()
    )
    dfreq = sh.groupBy("_h").agg(F.count("*").alias("_df"))
    sets = (
        sh.join(dfreq, "_h")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_ord"))
        .select(
            F.col(id_col),
            F.col("_ord._h").alias("hset"),
            F.size("_ord").alias("_n"),
        )
        .persist()
    )
    prefix_len = (F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1).cast(
        "int"
    )
    pref = sets.select(
        F.col(id_col),
        F.col("_n"),
        F.posexplode(F.slice("hset", F.lit(1), prefix_len)).alias("_p", "_h"),
    ).select(F.col(id_col), "_n", (F.col("_p") + 1).alias("_p"), "_h")
    # overlap bound from a match at positions (pa, pb); see docstring
    pa, pb = F.col("p_a"), F.col("p_b")
    bound = F.least(pa, pb) + F.least(
        F.col("n_a") - pa, F.col("n_b") - pb
    )
    t_slack = threshold - 1e-6
    min_overlap = F.ceil(
        F.lit(t_slack / (1.0 + t_slack))
        * (F.col("n_a") + F.col("n_b")).cast("double")
    )
    cands = (
        pref.select(
            F.col(id_col).alias("id_a"),
            F.col("_n").alias("n_a"),
            F.col("_p").alias("p_a"),
            "_h",
        )
        .join(
            pref.select(
                F.col(id_col).alias("id_b"),
                F.col("_n").alias("n_b"),
                F.col("_p").alias("p_b"),
                "_h",
            ),
            "_h",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
        )
        # per-pair MIN bound (each shared element bounds the same
        # overlap); the groupBy replaces the old distinct — same
        # shuffle, strictly fewer survivors
        .groupBy("id_a", "id_b")
        .agg(
            F.min(bound).alias("_ub"),
            F.min(min_overlap).alias("_need"),
        )
        .filter(F.col("_ub") >= F.col("_need"))
        .select("id_a", "id_b")
    )
    return _verified(cands, sets, id_col, "hset", threshold)


def simhash_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over the distinct-token set.

    Explode tokens → one 60-bit hash per token → per-bit ±1 vote sums
    (exact integer aggregation, order-independent) → sign → fingerprint.
    Returns (id, simhash).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", hash64(F.col("tok")))
    # r12 optimization (guide §1.2 step 2, driver side): each vote /
    # fingerprint term is parsed from SQL text in ONE py4j call — the
    # per-bit Column-operator form paid ~6 round-trips per bit twice
    # over (~1.5 s of query-construction time per run at bits=32).
    # The parsed trees are the same expressions (shiftright / & / CASE
    # WHEN), so analysis and codegen are unchanged.
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(h, {b}) & 1) * 2 - 1)").alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(CASE WHEN _v{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
    )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dups(
    fingerprints: DataFrame,
    id_col: str,
    bits: int = 32,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-ball pairing via chunk pigeonhole.

    With ``chunks`` equal-width chunks, any pair within
    ``chunks - 1`` flips shares at least one identical chunk — join on
    (chunk_idx, chunk_value), verify exact Hamming via bit_count(xor).
    Returns (id_a, id_b, hamming ≤ max_hamming).

    The fingerprint frame is persisted before the self-join: both join
    sides read it, and recomputing it means re-running the token
    explode + ``bits``-column vote aggregation twice (the dominant
    cost) — the same read-twice persist as the MinHash signature frame.
    As with that path, the CALLER owns the cache lifetime: the returned
    frame is lazy, so this function cannot unpersist after the action
    it never runs.  Long-lived sessions that build this query
    repeatedly should ``spark.catalog.clearCache()`` between
    invocations (scripts/scale_smoke.py does).
    """
    fingerprints = fingerprints.persist()
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_keys = [
        F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
        for c in range(chunks)
    ]
    return (
        _first_match_pairs(
            fingerprints, id_col, chunk_keys, ["simhash"], F.col("id_a") < F.col("id_b")
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_minhash_dedup(
    index_df: DataFrame,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_n: int = 1,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental near-dup admission: a NEW batch vs the existing corpus.

    The production dedup workflow at 100 TB is never "re-dedup
    everything": the historical corpus keeps a persisted band index
    (``(band_idx, band_key, id)`` plus per-doc hash sets), and each
    ingest batch is signed, banded, and joined against that index and
    against itself.  This operator expresses that admission decision;
    here both sides are signed in one pass for test determinism, while
    in production the index side's ``agg`` frame IS the stored index —
    the plan below only ever joins the new batch's bands against it
    (candidate generation scales with the batch, not the corpus).

    A batch doc is rejected when a verified match (exact Jaccard on
    hashed shingle sets ≥ ``threshold``) exists against any index doc
    or any lower-id batch doc (the same deterministic survivor rule as
    the full-corpus paths).  Returns one row per batch doc:
    ``(id, keep, dup_of)`` with ``dup_of`` the smallest matching id,
    NULL when admitted.
    """
    union = index_df.select(
        F.col(id_col), F.col(text_col), F.lit(0).alias("_src")
    ).unionByName(
        batch_df.select(F.col(id_col), F.col(text_col), F.lit(1).alias("_src"))
    )
    agg = _signed(
        union, id_col, text_col, k, shingle_n, F.collect_set("_h").alias("_hset")
    ).persist()
    keys = band_keys([F.col(f"_m{j}") for j in range(k)], bands, rows_per_band)
    admissible = (
        (F.col("id_a") != F.col("id_b"))
        & (F.col("_src_b") == 1)
        & (
            (F.col("_src_a") == 0)
            | ((F.col("_src_a") == 1) & (F.col("id_a") < F.col("id_b")))
        )
    )
    cands = _first_match_pairs(agg, id_col, keys, ["_src"], admissible)
    matches = (
        _verified(cands, agg, id_col, "_hset", threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        agg.filter(F.col("_src") == 1)
        .select(F.col(id_col))
        .join(matches.withColumnRenamed("id_b", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )
