"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in ``sleep_edf_data_pipeline_spark``; this module
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sleep_edf_data_pipeline_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Runs the full analytical spine (windows → gaps-and-islands episode
    detection → episode-scoped conditional aggregation) over the events
    table: the engine's sleep_summary mart.
    """
    from sleep_edf_data_pipeline_spark.queries.sleep_relational import q_sleep_summary

    return q_sleep_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q, _ = registry.collect()
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (same column names/types)."""
    _, o = registry.collect()
    return o
