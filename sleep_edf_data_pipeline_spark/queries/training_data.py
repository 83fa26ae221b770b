"""Round-3 training-data-pipeline operators.

The ops a pretraining corpus build runs between raw crawl and tokenized
shards, beyond dedup/quality (corpus_filters) and chunk/pack
(corpus_prep): benchmark decontamination, repetition signals,
per-domain stratified capping, mixture reweighting, JSON sidecar
extraction, and PII scrubbing.  All are pure DataFrame compositions
(no Python UDFs); each has a DuckDB oracle.

Reference parity note: the reference pipeline (blaiseclarke/
sleep-edf-data-pipeline) has no corpus surface — these extend the
engine per the build brief's training-data mandate, mirroring
published practice (GPT-3 App. C 13-gram decontamination; Gopher/
MassiveText repetition filters; The Pile/ROOTS source mixing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sleep_edf_data_pipeline_spark.operators.dedup import (
    DECONTAM_N,
    EVAL_MOD,
    decontam_grams,
    is_eval,
    tokens,
    word_shingles,
)
from sleep_edf_data_pipeline_spark.queries.dedup_queries import (
    ORACLE_DEDUP_CLUSTERS,
    q_dedup_clusters,
)
from sleep_edf_data_pipeline_spark.tables import spread, table

#: Per-(source) cap for stratified downsampling.
STRATUM_CAP = 8


def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per train doc, distinct n-grams shared
    with the eval split.

    Plan shape for 100 TB: the eval side's distinct n-gram set is tiny
    (benchmarks are fixed-size), so it broadcasts; the train side
    explodes shingles once and left-joins the broadcast — no shuffle of
    the corpus at all.  Output: train docs with their distinct-5-gram
    count, how many are contaminated, and the drop flag.
    """
    grams = decontam_grams(spread(table(spark, sf_dir, "documents"), "doc_id"))
    eval_grams = grams.filter(is_eval()).select("gram").distinct()
    train = grams.filter(~is_eval())
    hit = train.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    return hit.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias(
            "n_contaminated"
        ),
    ).withColumn("drop_doc", F.col("n_contaminated") > 0)


# DuckDB n-gram: slice w[i:i+n-1] (1-based inclusive) for each start i;
# short docs (< n tokens) contribute the whole doc as one gram, exactly
# mirroring word_shingles' fallback.
_GRAMS_SQL = f"""
    SELECT doc_id, gram FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= {DECONTAM_N}
                   THEN list_distinct([
                       array_to_string(w[i:i + {DECONTAM_N - 1}], ' ')
                       FOR i IN range(1, len(w) - {DECONTAM_N} + 2)
                   ])
                   ELSE [array_to_string(w, ' ')] END) AS gram
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
              FROM documents)
    )
"""

ORACLE_DECONTAMINATE_OVERLAP = f"""
WITH grams AS ({_GRAMS_SQL}),
eval_grams AS (
    SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       (sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) > 0) AS drop_doc
FROM grams g LEFT JOIN eval_grams e USING (gram)
WHERE g.doc_id % {EVAL_MOD} != 0
GROUP BY g.doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition signals per document.

    ``dup_token_frac`` = 1 − distinct/total tokens; ``top_bigram_frac``
    = fraction of tokens covered by the most frequent bigram (count×2
    over n_tokens).  Both are exact integer ratios rounded once — no
    float accumulation.  Shuffle: one groupBy on (doc_id, bigram) then
    (doc_id) — both partial-aggregated map-side.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("w"),
    ).select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_unique"),
        F.col("w"),
    )
    top_bigram = (
        toks.filter(F.col("n_tokens") >= 2)
        .select("doc_id", F.explode(word_shingles(F.col("w"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    return (
        toks.drop("w")
        .join(top_bigram, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("n_unique").cast("double") / F.col("n_tokens"),
                6,
            ).alias("dup_token_frac"),
            F.coalesce(F.col("top_bigram_count"), F.lit(0))
            .cast("bigint")
            .alias("top_bigram_count"),
            F.round(
                F.coalesce(F.col("top_bigram_count") * 2, F.lit(0)).cast(
                    "double"
                )
                / F.col("n_tokens"),
                6,
            ).alias("top_bigram_frac"),
        )
    )


ORACLE_REPETITION_STATS = """
WITH toks AS (
    SELECT doc_id,
           regexp_split_to_array(lower(text), '\\s+') AS w
    FROM documents
),
base AS (
    SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_unique, w
    FROM toks
),
bg AS (
    SELECT doc_id,
           unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS gram
    FROM toks WHERE len(w) >= 2
),
top AS (
    SELECT doc_id, max(c) AS top_bigram_count FROM (
        SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram
    ) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       round(1.0 - CAST(b.n_unique AS DOUBLE) / b.n_tokens, 6)
           AS dup_token_frac,
       CAST(coalesce(t.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       round(CAST(coalesce(t.top_bigram_count, 0) * 2 AS DOUBLE) / b.n_tokens, 6)
           AS top_bigram_frac
FROM base b LEFT JOIN top t USING (doc_id)
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source cap: keep the STRATUM_CAP docs with the
    lowest md5(doc_id) in each source.

    The per-domain downsampling step of corpus mixing — engine-
    reproducible (hash order, no RNG), expressible as one window rank
    per stratum.  At 100 TB the rank's sort key is (source, md5) —
    partition-local top-k via the window, no global sort.
    """
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id", "source", "lang", key.alias("sample_key")
        )
        .withColumn("rank_in_source", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_in_source") <= STRATUM_CAP)
    )


ORACLE_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
    SELECT doc_id, source, lang,
           md5(CAST(doc_id AS VARCHAR)) AS sample_key,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
           ) AS INT) AS rank_in_source
    FROM documents
)
SELECT * FROM ranked WHERE rank_in_source <= {STRATUM_CAP}
"""


def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares + uniform-target resampling weights.

    weight = (1/n_sources) / token_share — the multiplier a sampler
    applies per source to hit a uniform mixture.  Totals come from a
    1-row aggregate broadcast-crossed back (no second pass), all
    ratios are exact-int divisions done once in double.
    """
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    per_source = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("_total_tokens"),
        F.count("*").alias("_n_sources"),
    )
    return per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("_total_tokens"), 6
        ).alias("token_share"),
        F.round(
            F.col("_total_tokens").cast("double")
            / (F.col("_n_sources") * F.col("n_tokens")),
            6,
        ).alias("uniform_weight"),
    )


ORACLE_DOMAIN_MIXTURE_WEIGHTS = """
WITH per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(*) AS n_sources
    FROM per_source
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       round(CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens), 6)
           AS uniform_weight
FROM per_source CROSS JOIN tot
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON sidecar column + grouped stats.

    The metadata-sidecar pattern (crawl records, image EXIF, span
    labels ride along as JSON strings): ``get_json_object`` runs
    JVM-side inside codegen — no Python, and Catalyst prunes to the
    two columns read.  avg is exact-int sum ÷ count, divided once.
    """
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    ).select(
        "event_type",
        "n",
        "k_sum",
        "k_min",
        "k_max",
        F.round(F.col("k_sum").cast("double") / F.col("n"), 6).alias("k_avg"),
    )


ORACLE_JSON_PROPS_STATS = """
WITH e AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max,
       round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS k_avg
FROM e GROUP BY event_type
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub: mask digit runs, count masked characters.

    The plumbing of a corpus PII pass (emails/phones/SSNs swap in as
    patterns): pure ``regexp_replace`` projection, zero shuffles, scan
    + write at 100 TB.  Masked-char counts come from length deltas —
    no second regex engine pass per count.
    """
    cust = table(spark, sf_dir, "customer")
    masked = F.regexp_replace(F.col("c_name"), "[0-9]", "*")
    n_masked = F.length("c_name") - F.length(
        F.regexp_replace(F.col("c_name"), "[0-9]", "")
    )
    return cust.select(
        "c_custkey",
        masked.alias("masked_name"),
        n_masked.cast("int").alias("n_masked_chars"),
        (n_masked > 0).alias("had_pii"),
    )


ORACLE_PII_SCRUB = """
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_name,
       CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
            AS INT) AS n_masked_chars,
       (length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) > 0)
           AS had_pii
FROM customer
"""


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (dedup QA report).

    Rides on dedup_clusters (SimHash pairs → connected components);
    adds one tiny groupBy over the per-doc cluster assignment.  This is
    the report a dedup run ships to decide its thresholds.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count_distinct("canonical_id").cast("bigint").alias("n_clusters"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )


ORACLE_CLUSTER_SIZE_HISTOGRAM = f"""
SELECT cluster_size,
       CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ({ORACLE_DEDUP_CLUSTERS}) AS base
GROUP BY cluster_size
"""


#: SemDeDup cosine threshold.  Calibrated to THIS corpus's embedding
#: geometry (within-cluster cosine p99 ≈ 0.34, max ≈ 0.51 at sf0.01);
#: real text embeddings run far tighter (the paper uses ~0.95+) — the
#: threshold is a knob, the plan shape is the point.
SEMDEDUP_TAU = 0.35

#: Lloyd geometry shared with queries/similarity_queries.py.
_SD_K, _SD_ITERS, _SD_DIM = 8, 3, 64


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster embeddings, prune near-semantic-duplicates.

    Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): k-means the embedding space, then
    compare pairs ONLY within a cluster — the cluster key is the
    blocking key, so candidate generation is an equi-join, never
    all-pairs (at 100 TB: O(N²/k) pairs with both sides co-partitioned
    on the cluster id, versus O(N²) for a naive sweep).  A vector is
    pruned when a lower-id same-cluster vector sits above the cosine
    threshold — deterministic, order-free survivor choice, same
    lowest-id convention as the MinHash/SimHash paths.

    Clustering is the engine-portable fixed-point Lloyd loop
    (operators/clustering.py), so the oracle replays training,
    assignment, AND pruning as one unrolled SQL statement.
    Returns one row per vector: (vec_id, cluster, pruned).
    """
    from sleep_edf_data_pipeline_spark.operators.clustering import kmeans
    from sleep_edf_data_pipeline_spark.operators.similarity import dot, norm

    vecs = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    assigned, _ = kmeans(vecs, k=_SD_K, iters=_SD_ITERS)
    assigned = assigned.select("vec_id", "embedding", "cluster")
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        F.col("cluster").alias("_c"),
        norm(F.col("embedding")).alias("_na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        F.col("cluster").alias("_c"),
        norm(F.col("embedding")).alias("_nb"),
    )
    den = F.col("_na") * F.col("_nb")
    cos = F.round(F.when(den > 0, dot(F.col("_va"), F.col("_vb")) / den), 6)
    pruned = (
        a.join(b, "_c")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return (
        assigned.join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("_pruned"), F.lit(False)).alias("pruned"),
        )
    )


def _semdedup_oracle() -> str:
    from sleep_edf_data_pipeline_spark.queries.similarity_queries import (
        kmeans_assignment_ctes,
    )

    ctes, final = kmeans_assignment_ctes(_SD_K, _SD_ITERS, _SD_DIM)
    rng = f"range(1, {_SD_DIM + 1})"
    dot_ab = f"list_sum([a.v[i] * b.v[i] for i in {rng}])"
    na = f"sqrt(list_sum([a.v[i] * a.v[i] for i in {rng}]))"
    nb = f"sqrt(list_sum([b.v[i] * b.v[i] for i in {rng}]))"
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + f""",
sd_pruned AS (
    SELECT DISTINCT b.vec_id
    FROM {final} a JOIN {final} b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE round({dot_ab} / nullif({na} * {nb}, 0), 6) >= {SEMDEDUP_TAU}
)
SELECT t.vec_id, t.cluster,
       (t.vec_id IN (SELECT vec_id FROM sd_pruned)) AS pruned
FROM {final} t"""
    )


ORACLE_SEMDEDUP_PRUNE = _semdedup_oracle()


#: Minimum duplicated-substring length (tokens) for span detection.
#: Lee et al. 2021 use 50 BPE tokens on natural text; the synthetic
#: corpus's ~40-token vocabulary needs a shorter window to put match
#: density in the same operating regime.
SPAN_L = 10


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans, Lee et al. 2021 style.

    "Deduplicating Training Data Makes Language Models Better"
    (ExactSubstr): find every maximal token span that also occurs
    elsewhere in the corpus.  Suffix arrays don't distribute well;
    the equivalent-at-fixed-L formulation does: posexplode L-token
    shingles with their start positions, mark shingles whose corpus
    frequency > 1 (one unordered window count — a single shuffle on
    the gram), then merge overlapping duplicated windows per document
    with the islands pattern (running max-end, integer-only — hash
    stable).  At 100 TB the gram shuffle is the cost; it is map-side
    combinable and the gram key can be hashed to 8 bytes (xxhash64)
    to cut shuffle width — kept as the string here so the oracle can
    replay it verbatim.

    Returns one row per maximal duplicated span:
    (doc_id, span_start, span_end, span_tokens), positions 1-based.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= SPAN_L
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("w"), SPAN_L)).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("start"), "gram")
    dup = (
        grams.withColumn(
            "_freq", F.count("*").over(Window.partitionBy("gram"))
        )
        .filter(F.col("_freq") > 1)
        .select("doc_id", "start", (F.col("start") + SPAN_L - 1).alias("end"))
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = dup.withColumn(
        "_brk",
        F.when(
            F.col("start")
            > F.coalesce(F.max("end").over(w_prev), F.lit(-1)) + 1,
            1,
        ).otherwise(0),
    ).withColumn("_gid", F.sum("_brk").over(w_run))
    return (
        flagged.groupBy("doc_id", "_gid")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


ORACLE_DUPLICATE_SPANS = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
    FROM documents
),
grams AS (
    SELECT doc_id, u['s'] AS start, u['g'] AS gram FROM (
        SELECT doc_id,
               unnest([
                   {{'s': i, 'g': array_to_string(w[i:i + {SPAN_L - 1}], ' ')}}
                   FOR i IN range(1, len(w) - {SPAN_L} + 2)
               ]) AS u
        FROM toks WHERE len(w) >= {SPAN_L}
    )
),
dup AS (
    SELECT doc_id, start, start + {SPAN_L - 1} AS e
    FROM (SELECT *, count(*) OVER (PARTITION BY gram) AS freq FROM grams)
    WHERE freq > 1
),
flagged AS (
    SELECT doc_id, start, e,
           CASE WHEN start > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS brk
    FROM dup
),
grp AS (
    SELECT doc_id, start, e,
           CAST(sum(brk) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS gid
    FROM flagged
)
SELECT doc_id,
       CAST(min(start) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end,
       CAST(max(e) - min(start) + 1 AS INT) AS span_tokens
FROM grp
GROUP BY doc_id, gid
"""


QUERIES = {
    "decontaminate_overlap": q_decontaminate_overlap,
    "repetition_stats": q_repetition_stats,
    "stratified_sample": q_stratified_sample,
    "domain_mixture_weights": q_domain_mixture_weights,
    "json_props_stats": q_json_props_stats,
    "pii_scrub": q_pii_scrub,
    "cluster_size_histogram": q_cluster_size_histogram,
    "semdedup_prune": q_semdedup_prune,
    "duplicate_spans": q_duplicate_spans,
}

ORACLES = {
    "decontaminate_overlap": ORACLE_DECONTAMINATE_OVERLAP,
    "repetition_stats": ORACLE_REPETITION_STATS,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "domain_mixture_weights": ORACLE_DOMAIN_MIXTURE_WEIGHTS,
    "json_props_stats": ORACLE_JSON_PROPS_STATS,
    "pii_scrub": ORACLE_PII_SCRUB,
    "cluster_size_histogram": ORACLE_CLUSTER_SIZE_HISTOGRAM,
    "semdedup_prune": ORACLE_SEMDEDUP_PRUNE,
    "duplicate_spans": ORACLE_DUPLICATE_SPANS,
}
