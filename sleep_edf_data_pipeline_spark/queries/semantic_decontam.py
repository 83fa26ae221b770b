"""Round-9: semantic decontamination (embedding-space benchmark leak).

The registered decontamination family (``decontaminate_overlap``,
``bloom_decontaminate``, ``decontaminate_auto``) catches VERBATIM
benchmark leakage via n-gram overlap; paraphrased leakage — the same
eval item reworded — needs the embedding path (VERDICT r8 item 4).
Published practice: LLM eval-set decontamination via embedding
cosine (e.g. the semantic-dedup stage of SemDeDup / D4 applied
train-vs-eval instead of train-vs-train).

Split convention matches the n-gram family (``operators/dedup.is_eval``
on ``vec_id``): ids divisible by EVAL_MOD are the held-out benchmark
side (~2.4% — benchmark sets are tiny); every other vector is
train-side and gets a contamination verdict.

Scale shape (100 TB): k-means blocking shared with ``semdedup_prune``
(same ``operators/clustering.py`` Lloyd loop, same k/iters constants,
so one trained codebook serves both queries in a real pipeline run).
Candidates are generated by an equi-join on the cluster id ONLY —
never all-pairs — and the eval side is a broadcast (fixed benchmark ≪
corpus), so the train side streams through one scan with no shuffle:
O(N · |eval|/k) cosine evaluations, each a JVM higher-order fold.
The verdict per train vector reduces by (vec_id, cluster) with
map-side combine.  Threshold comparisons of the round-6 cosine are
the only float ops — the same arithmetic the green ``semdedup_prune``
oracle replays.

Reference parity: no embedding surface exists in the reference;
extends SURVEY §2.7's decontamination family per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import EVAL_MOD, is_eval
from ..operators.similarity import dot, norm
from ..tables import spread, table
from .training_data import _SD_DIM, _SD_ITERS, _SD_K, SEMDEDUP_TAU


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans

    vecs = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    assigned, _ = kmeans(vecs, k=_SD_K, iters=_SD_ITERS)
    assigned = assigned.select("vec_id", "embedding", "cluster")
    ev = assigned.filter(is_eval("vec_id")).select(
        F.col("vec_id").alias("_eid"),
        F.col("embedding").alias("_ve"),
        F.col("cluster").alias("_c"),
        norm(F.col("embedding")).alias("_ne"),
    )
    tr = assigned.filter(~is_eval("vec_id")).select(
        "vec_id",
        F.col("embedding").alias("_vt"),
        F.col("cluster").alias("_c"),
        norm(F.col("embedding")).alias("_nt"),
    )
    den = F.col("_nt") * F.col("_ne")
    cos = F.round(
        F.when(den > 0, dot(F.col("_vt"), F.col("_ve")) / den), 6
    )
    hit = tr.join(F.broadcast(ev), "_c", "left").withColumn("_cos", cos)
    return (
        hit.groupBy("vec_id", F.col("_c").alias("cluster"))
        .agg(
            F.sum(
                F.when(F.col("_cos") >= SEMDEDUP_TAU, 1).otherwise(0)
            ).cast("bigint").alias("n_eval_matches")
        )
        .withColumn("contaminated", F.col("n_eval_matches") > 0)
    )


def _oracle() -> str:
    from .similarity_queries import kmeans_assignment_ctes

    ctes, final = kmeans_assignment_ctes(_SD_K, _SD_ITERS, _SD_DIM)
    rng = f"range(1, {_SD_DIM + 1})"
    dot_te = f"list_sum([t.v[i] * e.v[i] for i in {rng}])"
    nt = f"sqrt(list_sum([t.v[i] * t.v[i] for i in {rng}]))"
    ne = f"sqrt(list_sum([e.v[i] * e.v[i] for i in {rng}]))"
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + f"""
SELECT t.vec_id, t.cluster,
       CAST(count(e.vec_id) AS BIGINT) AS n_eval_matches,
       (count(e.vec_id) > 0) AS contaminated
FROM {final} t LEFT JOIN {final} e
  ON t.cluster = e.cluster
 AND e.vec_id % {EVAL_MOD} = 0
 AND round({dot_te} / nullif({nt} * {ne}, 0), 6) >= {SEMDEDUP_TAU}
WHERE t.vec_id % {EVAL_MOD} != 0
GROUP BY t.vec_id, t.cluster"""
    )


ORACLE_DECONTAMINATE_SEMANTIC = _oracle()

QUERIES = {
    "decontaminate_semantic": q_decontaminate_semantic,
}

ORACLES = {
    "decontaminate_semantic": ORACLE_DECONTAMINATE_SEMANTIC,
}
