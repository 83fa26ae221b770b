"""Training-corpus preparation: chunking and dataset splits.

Two operations every large-scale LLM data pipeline runs over its
document store:

- **Chunking** documents into bounded token windows with overlap
  (context-window packing).  The default path is pure built-ins —
  ``explode(sequence(...))`` + ``slice`` + ``concat_ws`` — so the whole
  one-row-in-N-rows-out expansion runs inside whole-stage codegen with
  zero shuffles and zero Python.  A Python-UDTF variant
  (``document_chunks_udtf``) stays registered as the table-function
  surface demo (LATERAL join), oracle-checked against the same SQL;
  at 100 TB the native path avoids pickling every document across the
  JVM↔Python boundary row-at-a-time.
- **Deterministic train/val/test assignment** by md5 bucket of the
  stable document id: reproducible across engines/runs, no RNG state,
  and any engine (here: DuckDB) can re-derive the same split — the
  property that matters when 100 TB is split once and consumed
  forever.  12/16 hex buckets → train, 2 → val, 2 → test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..operators.text import md5_split, token_chunks
from ..tables import table

#: Chunk geometry: 50-token windows every 40 tokens (10-token overlap).
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


@udtf(returnType="chunk_idx int, chunk_text string, n_tokens int")
class ChunkTokens:
    """Fixed-window token chunker with overlap (whitespace tokens)."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        toks = text.split(" ")
        for i, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
            window = toks[start : start + CHUNK_TOKENS]
            yield i, " ".join(window), len(window)


def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document natively; codegen-only, zero shuffles.

    :func:`token_chunks` has the same semantics as the UDTF variant
    below with no Python in the plan; a null text emits no rows,
    matching the UDTF's null-text behavior.
    """
    return token_chunks(
        table(spark, sf_dir, "documents"), CHUNK_TOKENS, CHUNK_STRIDE
    )


def q_document_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking via the Python-UDTF table-function surface (LATERAL).

    Same semantics and oracle as :func:`q_document_chunks`; registered
    separately so the engine's UDTF/LATERAL surface stays exercised
    while the native path is the default at scale.
    """
    table(spark, sf_dir, "documents").createOrReplaceTempView("_cp_documents")
    spark.udtf.register("chunk_tokens", ChunkTokens)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM _cp_documents d, LATERAL chunk_tokens(d.text) c
        """
    )


ORACLE_DOCUMENT_CHUNKS = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
starts AS (
    SELECT doc_id, arr,
           CAST(i AS INT) AS chunk_idx,
           CAST(i * {CHUNK_STRIDE} AS INT) AS start
    FROM toks,
         unnest(range(0, CAST(ceil(len(arr) / {CHUNK_STRIDE}.0) AS BIGINT)))
             AS t(i)
)
SELECT
    doc_id,
    chunk_idx,
    array_to_string(arr[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
    CAST(least({CHUNK_TOKENS}, len(arr) - start) AS INT) AS n_tokens
FROM starts
"""


def q_dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (split, lang) corpus stats under the md5-bucket assignment.

    The assignment itself is a pure projection (no shuffle); the stats
    are one small aggregation.  Counting chars through sum(bigint)
    keeps the result exact and order-free.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(md5_split().alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_DATASET_SPLIT_STATS = """
WITH assigned AS (
    SELECT
        CASE
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
            ELSE 'test'
        END AS split,
        lang,
        n_chars
    FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY split, lang
"""


QUERIES = {
    "document_chunks": q_document_chunks,
    "document_chunks_udtf": q_document_chunks_udtf,
    "dataset_split_stats": q_dataset_split_stats,
}

ORACLES = {
    "document_chunks": ORACLE_DOCUMENT_CHUNKS,
    "document_chunks_udtf": ORACLE_DOCUMENT_CHUNKS,
    "dataset_split_stats": ORACLE_DATASET_SPLIT_STATS,
}
