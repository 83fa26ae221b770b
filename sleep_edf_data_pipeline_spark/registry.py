"""Merge every query module's (QUERIES, ORACLES) for __spark_entry__."""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Query modules, each exposing QUERIES and (optionally) ORACLES;
#: collect() returns the queries in this module order.
_MODULES = [
    "sleep_edf_data_pipeline_spark.queries.extras",
    "sleep_edf_data_pipeline_spark.queries.sleep_relational",
    "sleep_edf_data_pipeline_spark.queries.tpch_relational",
    "sleep_edf_data_pipeline_spark.queries.joins_advanced",
    "sleep_edf_data_pipeline_spark.queries.relational_breadth",
    "sleep_edf_data_pipeline_spark.queries.event_windows",
    "sleep_edf_data_pipeline_spark.queries.advanced_windows",
    "sleep_edf_data_pipeline_spark.queries.serving",
    "sleep_edf_data_pipeline_spark.queries.dedup_queries",
    "sleep_edf_data_pipeline_spark.queries.text_queries",
    "sleep_edf_data_pipeline_spark.queries.similarity_queries",
    "sleep_edf_data_pipeline_spark.queries.multimodal_queries",
    "sleep_edf_data_pipeline_spark.queries.corpus_prep",
    "sleep_edf_data_pipeline_spark.queries.corpus_filters",
    "sleep_edf_data_pipeline_spark.queries.tpch_deep",
    "sleep_edf_data_pipeline_spark.queries.behavior_analytics",
    "sleep_edf_data_pipeline_spark.queries.graph_stats",
    "sleep_edf_data_pipeline_spark.queries.training_data",
    "sleep_edf_data_pipeline_spark.queries.tpch_complete",
    "sleep_edf_data_pipeline_spark.queries.quantization_queries",
    "sleep_edf_data_pipeline_spark.queries.corpus_quality",
    "sleep_edf_data_pipeline_spark.queries.timeseries_extra",
    "sleep_edf_data_pipeline_spark.queries.retrieval",
    "sleep_edf_data_pipeline_spark.queries.selection_extra",
    "sleep_edf_data_pipeline_spark.queries.heavy_hitters",
    "sleep_edf_data_pipeline_spark.queries.lm_data_extras",
    "sleep_edf_data_pipeline_spark.queries.engine_extras",
    "sleep_edf_data_pipeline_spark.queries.drift_stats",
    "sleep_edf_data_pipeline_spark.queries.assoc_mining",
    "sleep_edf_data_pipeline_spark.queries.trend_stats",
    "sleep_edf_data_pipeline_spark.queries.storage_roundtrip",
    "sleep_edf_data_pipeline_spark.queries.tokenizer_apply",
    "sleep_edf_data_pipeline_spark.queries.embedding_drift",
    "sleep_edf_data_pipeline_spark.queries.occupancy",
    "sleep_edf_data_pipeline_spark.queries.edit_distance",
    "sleep_edf_data_pipeline_spark.queries.url_dedup",
    "sleep_edf_data_pipeline_spark.queries.span_dedup",
    "sleep_edf_data_pipeline_spark.queries.line_dedup",
    "sleep_edf_data_pipeline_spark.queries.semantic_decontam",
    "sleep_edf_data_pipeline_spark.queries.retrieval_fusion",
    "sleep_edf_data_pipeline_spark.queries.cluster_quality",
    "sleep_edf_data_pipeline_spark.queries.corpus_verdict",
    "sleep_edf_data_pipeline_spark.queries.quantization_sq",
    "sleep_edf_data_pipeline_spark.queries.readability",
    "sleep_edf_data_pipeline_spark.queries.novelty",
    "sleep_edf_data_pipeline_spark.queries.wordpiece",
    "sleep_edf_data_pipeline_spark.queries.link_prediction",
    "sleep_edf_data_pipeline_spark.queries.layout",
    "sleep_edf_data_pipeline_spark.queries.skyline",
    "sleep_edf_data_pipeline_spark.queries.chi2_drift",
    "sleep_edf_data_pipeline_spark.queries.sampling_advanced",
    "sleep_edf_data_pipeline_spark.queries.intra_doc_dedup",
    "sleep_edf_data_pipeline_spark.queries.quantile_sketch",
    "sleep_edf_data_pipeline_spark.queries.coreset",
    "sleep_edf_data_pipeline_spark.queries.dedup_cascade",
    "sleep_edf_data_pipeline_spark.queries.winsorize",
    "sleep_edf_data_pipeline_spark.queries.quantile_transform",
    "sleep_edf_data_pipeline_spark.queries.hll_rollup",
    "sleep_edf_data_pipeline_spark.queries.vocab_coverage",
    "sleep_edf_data_pipeline_spark.queries.asof_forward",
    "sleep_edf_data_pipeline_spark.queries.unigram_lm",
    "sleep_edf_data_pipeline_spark.queries.kn_bigram",
    "sleep_edf_data_pipeline_spark.queries.lsh_recall",
    "sleep_edf_data_pipeline_spark.queries.lsh_recall_sampled",
    "sleep_edf_data_pipeline_spark.queries.unigram_lm_roundtrip",
    "sleep_edf_data_pipeline_spark.queries.tokenizer_roundtrip",
    "sleep_edf_data_pipeline_spark.queries.ann_roundtrip",
    "sleep_edf_data_pipeline_spark.queries.jl_projection",
    "sleep_edf_data_pipeline_spark.queries.ivf_probe_curve",
    "sleep_edf_data_pipeline_spark.queries.winnowing",
    "sleep_edf_data_pipeline_spark.queries.shard_packing",
]

QueryFn = Callable[[SparkSession, str], DataFrame]


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """All registered (queries, oracles), in ``_MODULES`` order.

    CACHE CONTRACT: several query functions ``persist()`` a *reduced*
    intermediate (per-key grid, coded corpus, histogram) that feeds
    multiple consumers in the same plan, and deliberately do NOT
    unpersist — the frame must stay cached until the caller has
    consumed the returned DataFrame.  The harness callers (the external
    driver, scripts/driver_sim.py, tests) all call
    ``spark.catalog.clearCache()`` between queries.  Any other
    long-lived session embedding these functions must do the same, or
    cached fact-derived frames accumulate across queries.
    """
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        for name, fn in mod.QUERIES.items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name} in {modname}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name not in mod.QUERIES:
                raise ValueError(f"oracle without query: {name} in {modname}")
            oracles[name] = sql
    return queries, oracles
