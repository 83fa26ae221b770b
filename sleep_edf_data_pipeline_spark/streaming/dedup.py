"""Streaming deduplication: exact dedup over an unbounded stream.

The streaming counterpart of operators/dedup.py's exact path: a corpus
arriving as a stream (crawl output, log ship) deduplicated online by
content hash.

Two state disciplines, both native Structured Streaming operators (the
state store shards by key across executors exactly like a shuffle):

- :func:`streaming_exact_dedup` — ``dropDuplicates`` on the content
  hash: state grows with the distinct-key count and never expires.
  Right when the dedup horizon is "forever" and keys are hashes
  (fixed-width state per key).
- :func:`streaming_dedup_within_watermark` —
  ``dropDuplicatesWithinWatermark``: duplicates are only suppressed
  within the watermark horizon, and state older than the watermark is
  evicted — bounded state for unbounded streams, the 100 TB/day
  setting where exact forever-dedup state would not fit.

Both emit the surviving rows (first arrival wins), so the sink sees an
append-only deduplicated corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64, perm_coeffs, perm_hash
from ..operators.dedup import band_keys, tokens


def with_content_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable content key: md5 of the raw text (same as batch dedup)."""
    return df.withColumn("content_hash", F.md5(F.col(text_col)))


def streaming_exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the first arrival per content hash; unbounded state."""
    return with_content_hash(docs, text_col).dropDuplicates(["content_hash"])


def streaming_dedup_within_watermark(
    docs: DataFrame,
    event_time_col: str,
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """First arrival per content hash within the watermark horizon.

    State for a hash is dropped once the watermark passes it — a
    duplicate arriving later than ``watermark`` after the original is
    NOT suppressed.  That trade (bounded state, horizon-scoped dedup)
    is the standard production posture for continuous corpus ingest.
    """
    return (
        with_content_hash(docs, text_col)
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def rowwise_minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    k: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Per-ROW MinHash band keys — no explode/groupBy, streaming-safe.

    The batch signer (operators/dedup.py: with_minhash) aggregates
    exploded shingles because map-side combine wins at corpus scale;
    a stream wants the opposite shape: each arriving doc computes its
    own signature inside the projection (higher-order ``transform`` +
    ``array_min`` per permutation), so signing needs no shuffle and no
    state.  Same hash family as the batch path, and the keys come from
    operators/dedup.py: band_keys, the band encoding the batch index
    uses — identical band keys for identical text, by construction.

    Adds ``band_0..band_{bands-1}``.
    """
    hs = F.transform(tokens(F.col(text_col)), lambda t: hash64(t))
    sig = [
        F.array_min(F.transform(hs, lambda h: perm_hash(h, a, b)))
        for a, b in perm_coeffs(k)
    ]
    out = df
    for b, key in enumerate(band_keys(sig, k // rows_per_band, rows_per_band)):
        out = out.withColumn(f"band_{b}", key)
    return out


def streaming_lsh_admission(
    docs: DataFrame,
    index_signed: DataFrame,
    text_col: str = "text",
    k: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Online near-dup admission against a static corpus band index.

    The streaming counterpart of operators/dedup.py:
    incremental_minhash_dedup — a crawl stream is admitted doc-by-doc
    against the existing corpus's LSH index with ZERO streaming state:
    per-row signatures (``rowwise_minhash_bands``) and one stream-static
    left join per band (the per-band distinct key set is a static frame
    Spark broadcasts; re-planned per micro-batch, so a growing index is
    picked up between batches).  No watermark, no state store, no
    shuffle of the stream.

    Admission here is the conservative LSH-collision filter: any shared
    band rejects (``admitted = false``).  The Jaccard verify that the
    batch path runs inline belongs offline in this posture — collisions
    are quarantined, not silently kept — because a stream-side verify
    would need the index's shingle sets resident.  ``index_signed`` is
    the batch signer's output (``with_minhash``): (id, sig).
    """
    bands = k // rows_per_band
    idx_keys = band_keys(
        [F.element_at("sig", j + 1) for j in range(bands * rows_per_band)],
        bands,
        rows_per_band,
    )
    out = rowwise_minhash_bands(docs, text_col, k, rows_per_band)
    admitted = F.lit(True)
    for b, key in enumerate(idx_keys):
        idx_b = (
            index_signed.select(key.alias(f"band_{b}"))
            .distinct()
            .withColumn(f"_hit_{b}", F.lit(1))
        )
        out = out.join(F.broadcast(idx_b), f"band_{b}", "left")
        admitted = admitted & F.col(f"_hit_{b}").isNull()
    return out.withColumn("admitted", admitted).drop(
        *[f"_hit_{b}" for b in range(bands)]
    )
