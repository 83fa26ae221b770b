"""Warehouse sinks (SURVEY §2.1 S5, S7, S9, S10).

The reference's transactional per-subject DELETE+INSERT
(``warehouse/duckdb_client.py:100-111``) maps to Spark's dynamic
partition overwrite on a subject-partitioned parquet table: only the
partitions present in the incoming frame are replaced, each swap is
atomic at partition granularity, and other subjects' data is untouched.
Append mode maps directly.  (On Delta/Iceberg the same API becomes
``replaceWhere`` with full ACID; plain parquet is the
lowest-common-denominator this environment supports.)

The error sink is the reference's INGESTION_ERRORS append
(``duckdb_client.py:123-143``): uuid + current_timestamp defaults,
append-only.
"""

from __future__ import annotations

import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ERROR_SCHEMA
from .versioned import merge_upsert


def write_epochs(
    df: DataFrame,
    path: str,
    overwrite: bool = True,
    partition_col: str = "subject_id",
) -> None:
    """S5/S7: partitioned epoch sink.

    ``overwrite=True`` replaces ONLY the subject partitions present in
    ``df`` (dynamic partition overwrite — per-subject idempotent
    re-ingest); ``overwrite=False`` appends.
    """
    # a per-write option, never the session conf: concurrent loads in
    # one session cannot flip each other's overwrite mode
    (
        df.write.mode("overwrite" if overwrite else "append")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_epochs(spark: SparkSession, path: str) -> DataFrame:
    """S6: schema-preserving scan of the partitioned epoch table."""
    return spark.read.parquet(path)


def error_row(
    spark: SparkSession,
    subject_id: int | None,
    error: BaseException | str,
    error_type: str | None = None,
) -> DataFrame:
    """Normalize a failure into one INGESTION_ERRORS-shaped row (S10).

    Mirrors the reference's describe_error (``pipeline.py:23-37``):
    type, message, stack trace; uuid + timestamp are engine defaults.
    """
    if isinstance(error, BaseException):
        etype = error_type or type(error).__name__
        message = str(error)
        stack = "".join(
            traceback.format_exception(type(error), error, error.__traceback__)
        )
    else:
        etype = error_type or "Error"
        message = str(error)
        stack = None
    row = spark.createDataFrame(
        [(subject_id, etype, message, stack)],
        "subject_id int, error_type string, error_message string, stack_trace string",
    )
    return row.select(
        F.expr("uuid()").alias("error_id"),
        "subject_id",
        "error_type",
        "error_message",
        "stack_trace",
        F.current_timestamp().alias("occurred_at"),
    )


def append_error(
    spark: SparkSession,
    path: str,
    subject_id: int | None,
    error: BaseException | str,
    error_type: str | None = None,
) -> None:
    """S10: append one error row to the observability table."""
    error_row(spark, subject_id, error, error_type).write.mode("append").parquet(path)


def recent_errors(spark: SparkSession, path: str, limit: int = 20) -> DataFrame:
    """Q6: newest-first error listing."""
    return (
        spark.read.schema(ERROR_SCHEMA)
        .parquet(path)
        .orderBy(F.desc("occurred_at"))
        .limit(limit)
    )


def foreach_batch_upsert(path: str, keys: list[str]):
    """Streaming upsert sink: merge each micro-batch into a keyed table.

    Returns a ``foreachBatch`` callback implementing last-write-wins on
    ``keys``: rows already present whose key reappears in the batch are
    replaced.  This is the incremental-materialization pattern (the
    streaming analog of S7's per-subject overwrite), and each batch is
    one :func:`.versioned.merge_upsert` — anti-join out superseded rows,
    union the batch, commit a new snapshot through the versioned
    table's compare-and-swap log.  A crash mid-batch leaves the last
    committed snapshot readable; read the table with ``read_versioned``.
    """

    def _upsert(batch: DataFrame, _batch_id: int) -> None:
        merge_upsert(batch.sparkSession, path, batch, keys)

    return _upsert
