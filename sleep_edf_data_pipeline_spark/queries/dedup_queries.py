"""Oracle-checked dedup queries over the documents table.

Each query drives operators.dedup; oracles restate the same
deterministic md5-based constructions in DuckDB (list comprehensions +
lambda transforms), so candidate generation AND verification are both
differential-checked, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import PERM_P, perm_coeffs
from ..operators.components import connected_components
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_join,
    simhash_fingerprint,
    simhash_near_dups,
    with_minhash,
)
from ..operators.text import md5_split
from ..tables import spread, table

H64 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"

#: VALUES list of the universal-hash coefficients, shared with Spark.
_COEFFS = perm_coeffs(16)
_COEFF_VALUES = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_COEFFS))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy."""
    # No spread(): one md5 per doc is scan-bound, not CPU-bound — the
    # repartition shuffle would cost more than it buys.
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS kept_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=16, 3-word shingles) in long format."""
    signed = with_minhash(
        spread(table(spark, sf_dir, "documents"), "doc_id"), "doc_id", "text", k=16, shingle_n=3
    )
    return signed.select(
        "doc_id", F.posexplode("sig").alias("h", "minhash")
    ).withColumn("h", F.col("h").cast("bigint"))


ORACLE_MINHASH_SIGNATURES = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
    FROM documents
),
sh AS (
    SELECT
        doc_id,
        CASE
            WHEN len(words) >= 3
            THEN [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
            ELSE [array_to_string(words, ' ')]
        END AS shingles
    FROM t
),
base AS (
    SELECT doc_id, {H64.format(s="unnest(shingles)")} AS bh
    FROM sh
),
coeffs(j, a, b) AS (VALUES {_COEFF_VALUES})
SELECT
    doc_id,
    CAST(j AS BIGINT) AS h,
    CAST(min((a * (bh % {PERM_P}) + b) % {PERM_P}) AS BIGINT) AS minhash
FROM base
CROSS JOIN coeffs
GROUP BY doc_id, j
"""


def q_minhash_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verification (≥ 0.6)."""
    return minhash_lsh_dedup(
        spread(table(spark, sf_dir, "documents"), "doc_id"),
        "doc_id",
        "text",
        k=16,
        shingle_n=1,
        bands=4,
        rows_per_band=4,
        threshold=0.6,
    )


ORACLE_MINHASH_LSH_NEARDUPS = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
    FROM documents
),
base AS (
    SELECT
        doc_id,
        list_distinct(words) AS wset,
        list_transform(words, s -> {H64.format(s="s")}) AS hs
    FROM t
),
sigs AS (
    SELECT
        doc_id,
        wset,
        [{", ".join(f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * (h % {PERM_P}) + {b}) % {PERM_P}))" for a, b in _COEFFS)}] AS sig
    FROM base
),
bands AS (
    SELECT
        doc_id,
        wset,
        b AS band_idx,
        md5(array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',')) AS band_hash
    FROM sigs
    CROSS JOIN unnest(range(0, 4)) AS tt(b)
),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands AS a
    JOIN bands AS b USING (band_idx, band_hash)
    WHERE a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.id_a,
        c.id_b,
        round(
            CAST(len(list_intersect(sa.wset, sb.wset)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.wset, sb.wset))) AS DOUBLE),
            6
        ) AS jaccard
    FROM cands AS c
    JOIN sigs AS sa ON c.id_a = sa.doc_id
    JOIN sigs AS sb ON c.id_b = sb.doc_id
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.6
"""

def q_ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard self-join (≥ 0.5) via lossless prefix filtering."""
    return ngram_jaccard_join(
        spread(table(spark, sf_dir, "documents"), "doc_id"),
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
    )


# Prefix filtering is lossless, so the oracle is plain brute force —
# agreement here proves the blocking drops no qualifying pair.
ORACLE_NGRAM_JACCARD_NEARDUPS = """
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
    FROM documents
),
sh AS (
    SELECT
        doc_id,
        CASE
            WHEN len(words) >= 3
            THEN [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]
            ELSE [array_to_string(words, ' ')]
        END AS shingles
    FROM t
),
sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
pairs AS (
    SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        round(
            CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE),
            6
        ) AS jaccard
    FROM sets AS a
    JOIN sets AS b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


_BITS = 32
_CHUNKS = 4
_WIDTH = _BITS // _CHUNKS
_MASK = (1 << _WIDTH) - 1


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    return simhash_fingerprint(
        spread(table(spark, sf_dir, "documents"), "doc_id"), "doc_id", "text", bits=_BITS
    )


_VOTES = ",\n".join(
    f"        sum(2 * ((h >> {b}) & 1) - 1) AS v{b}" for b in range(_BITS)
)
_FP = " + ".join(
    f"CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END" for b in range(_BITS)
)

ORACLE_SIMHASH_FINGERPRINTS = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, {H64.format(s="tok")} AS h FROM toks
),
votes AS (
    SELECT
        doc_id,
{_VOTES}
    FROM hashed
    GROUP BY doc_id
)
SELECT doc_id, CAST({_FP} AS BIGINT) AS simhash FROM votes
"""


def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dups (chunk pigeonhole, dist ≤ 3)."""
    fp = simhash_fingerprint(
        spread(table(spark, sf_dir, "documents"), "doc_id"), "doc_id", "text", bits=_BITS
    )
    return simhash_near_dups(fp, "doc_id", bits=_BITS, chunks=_CHUNKS, max_hamming=3)


_CHUNK_ROWS = ", ".join(
    f"((simhash >> {c * _WIDTH}) & {_MASK}, {c})" for c in range(_CHUNKS)
)

ORACLE_SIMHASH_NEARDUPS = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, {H64.format(s="tok")} AS h FROM toks
),
votes AS (
    SELECT
        doc_id,
{_VOTES}
    FROM hashed
    GROUP BY doc_id
),
fp AS (
    SELECT doc_id, CAST({_FP} AS BIGINT) AS simhash FROM votes
),
long AS (
    SELECT doc_id, simhash, c AS chunk_idx, (simhash >> (c * {_WIDTH})) & {_MASK} AS chunk_val
    FROM fp
    CROSS JOIN unnest(range(0, {_CHUNKS})) AS tt(c)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM long AS a
    JOIN long AS b USING (chunk_idx, chunk_val)
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over SimHash near-dup
    pairs; canonical = min doc_id per component.

    The post-pairing step of a production dedup pipeline (pick one
    survivor per cluster).  Iterative min-label propagation
    (operators.components); the oracle replays the same graph closure
    with a recursive CTE — a genuinely iterative algorithm differential-
    checked against SQL recursion.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    fp = simhash_fingerprint(docs, "doc_id", "text", bits=_BITS)
    pairs = simhash_near_dups(fp, "doc_id", bits=_BITS, chunks=_CHUNKS, max_hamming=3)
    comp = connected_components(
        pairs,
        docs.select("doc_id"),
        node_col="doc_id",
        src_col="id_a",
        dst_col="id_b",
    )
    w = Window.partitionBy("canonical_id")
    return (
        comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("canonical_id"))
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, {H64.format(s="tok")} AS h FROM toks
),
votes AS (
    SELECT
        doc_id,
{_VOTES}
    FROM hashed
    GROUP BY doc_id
),
fp AS (
    SELECT doc_id, CAST({_FP} AS BIGINT) AS simhash FROM votes
),
long AS (
    SELECT doc_id, simhash, c AS chunk_idx, (simhash >> (c * {_WIDTH})) & {_MASK} AS chunk_val
    FROM fp
    CROSS JOIN unnest(range(0, {_CHUNKS})) AS tt(c)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM long AS a
    JOIN long AS b USING (chunk_idx, chunk_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node)
SELECT doc_id, canonical_id,
       CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size
FROM comp
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch admission vs an existing corpus index.

    Even doc_ids play the historical corpus, odd doc_ids the incoming
    batch; each batch doc is admitted unless a verified MinHash-LSH
    match (Jaccard ≥ 0.6) exists in the index or among lower-id batch
    docs.  See operators/dedup.py: incremental_minhash_dedup for the
    production index-side contract.
    """
    from ..operators.dedup import incremental_minhash_dedup

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        k=16,
        shingle_n=1,
        bands=4,
        rows_per_band=4,
        threshold=0.6,
    )


ORACLE_INCREMENTAL_DEDUP = f"""
WITH t AS (
    SELECT doc_id, doc_id % 2 AS src,
           regexp_split_to_array(lower(text), '\\s+') AS words
    FROM documents
),
base AS (
    SELECT doc_id, src,
           list_distinct(words) AS wset,
           list_transform(words, s -> {H64.format(s="s")}) AS hs
    FROM t
),
sigs AS (
    SELECT doc_id, src, wset,
        [{", ".join(f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * (h % {PERM_P}) + {b}) % {PERM_P}))" for a, b in _COEFFS)}] AS sig
    FROM base
),
bands AS (
    SELECT doc_id, src, wset, b AS band_idx,
           md5(array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',')) AS band_hash
    FROM sigs
    CROSS JOIN unnest(range(0, 4)) AS tt(b)
),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands AS a
    JOIN bands AS b USING (band_idx, band_hash)
    WHERE a.doc_id != b.doc_id
      AND b.src = 1
      AND (a.src = 0 OR a.doc_id < b.doc_id)
),
verified AS (
    SELECT c.id_a, c.id_b
    FROM cands AS c
    JOIN sigs AS sa ON c.id_a = sa.doc_id
    JOIN sigs AS sb ON c.id_b = sb.doc_id
    WHERE round(
        CAST(len(list_intersect(sa.wset, sb.wset)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(sa.wset, sb.wset))) AS DOUBLE),
        6) >= 0.6
),
matches AS (
    SELECT id_b AS doc_id, min(id_a) AS dup_of FROM verified GROUP BY id_b
)
SELECT s.doc_id, (m.dup_of IS NULL) AS keep, m.dup_of
FROM sigs s LEFT JOIN matches m USING (doc_id)
WHERE s.src = 1
"""


def q_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs that STRADDLE a train/val/test boundary.

    The pre-training leakage audit: a validation document with a ≥0.6
    Jaccard twin in train contaminates the eval.  Pairs come from the
    same banded MinHash-LSH pass as ``minhash_lsh_neardups`` (never
    all-pairs); the split of each side is a pure md5 projection of the
    doc id — identical to ``dataset_split_stats``'s assignment — so
    the leakage check costs exactly the LSH pass plus a filter: ZERO
    additional joins or shuffles at any scale.
    """
    pairs = minhash_lsh_dedup(
        spread(table(spark, sf_dir, "documents"), "doc_id"),
        "doc_id",
        "text",
        k=16,
        shingle_n=1,
        bands=4,
        rows_per_band=4,
        threshold=0.6,
    )
    return (
        pairs.withColumn("split_a", md5_split("id_a"))
        .withColumn("split_b", md5_split("id_b"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


_SPLIT_SQL = """CASE
            WHEN substring(md5(CAST({c} AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
            WHEN substring(md5(CAST({c} AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
            ELSE 'test'
        END"""

# The LSH pair generation is the verified ORACLE_MINHASH_LSH_NEARDUPS
# text verbatim; leakage is the cross-split filter over its output.
ORACLE_CROSS_SPLIT_LEAKAGE = f"""
WITH pairs AS ({ORACLE_MINHASH_LSH_NEARDUPS}),
labeled AS (
    SELECT id_a, id_b, jaccard,
        {_SPLIT_SQL.format(c="id_a")} AS split_a,
        {_SPLIT_SQL.format(c="id_b")} AS split_b
    FROM pairs
)
SELECT id_a, id_b, jaccard, split_a, split_b
FROM labeled
WHERE split_a <> split_b
"""


QUERIES = {
    "incremental_dedup": q_incremental_dedup,
    "cross_split_leakage": q_cross_split_leakage,
    "dedup_exact": q_dedup_exact,
    "dedup_clusters": q_dedup_clusters,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_neardups": q_minhash_lsh_neardups,
    "ngram_jaccard_neardups": q_ngram_jaccard_neardups,
    "simhash_fingerprints": q_simhash_fingerprints,
    "simhash_neardups": q_simhash_neardups,
}

ORACLES = {
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "cross_split_leakage": ORACLE_CROSS_SPLIT_LEAKAGE,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "minhash_signatures": ORACLE_MINHASH_SIGNATURES,
    "minhash_lsh_neardups": ORACLE_MINHASH_LSH_NEARDUPS,
    "ngram_jaccard_neardups": ORACLE_NGRAM_JACCARD_NEARDUPS,
    "simhash_fingerprints": ORACLE_SIMHASH_FINGERPRINTS,
    "simhash_neardups": ORACLE_SIMHASH_NEARDUPS,
}
