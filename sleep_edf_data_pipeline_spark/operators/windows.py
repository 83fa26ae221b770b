"""Windowed time-series operators (SURVEY §2.3 R4, R5, R19).

Every window here partitions by the same entity key so Catalyst can plan
ONE exchange for the whole chain — moving averages, lag, run ids,
running sums and whole-partition stats all reuse hash(subject_id)
partitioning (a ``HashPartitioning`` on a subset of a window's
clustering keys satisfies its ``ClusteredDistribution``, so e.g. a
window over (subject_id, is_sleep) only re-sorts, it does not
re-shuffle).  At 100 TB that single-shuffle property is the difference
between one wide stage and five.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def entity_window(partition_by: Sequence[str], order_by: Sequence[str]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


#: Fixed-point scale for float window aggregates: 2^28 (the same
#: contract as operators/clustering.py).  `floor(v * 2^28)` summed as
#: BIGINT is exact under ANY accumulation order — including the
#: add/remove running sums engines use for sliding frames, whose float
#: error otherwise accumulates along a long partition (observed: 6 of
#: 100k rows at sf0.1 crossing the round-to-6 boundary between Spark's
#: and DuckDB's sliding-avg implementations).  Quantization error
#: (≤ 4e-9 per value) is invisible at the round-to-6 output contract.
FP_SCALE = float(1 << 28)


def with_moving_averages(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: Sequence[str],
    order_by: Sequence[str],
    window_size: int = 5,
    suffix: str = "_moving_avg",
) -> DataFrame:
    """Trailing moving average over a row frame (R4), in fixed point.

    Reference: 5-epoch (2.5 min) smoothing,
    ``models/intermediate/sleep_metrics.sql:11-43``.  The average is an
    exact integer window sum ÷ window count (see FP_SCALE) so the
    result is bit-identical in any engine at any partition length.
    """
    w = entity_window(partition_by, order_by).rowsBetween(-(window_size - 1), 0)
    return df.withColumns(
        {
            f"{c}{suffix}": (
                F.sum(F.floor(F.col(c) * FP_SCALE)).over(w).cast("double")
                / (F.lit(FP_SCALE) * F.count(c).over(w))
            )
            for c in cols
        }
    )


def with_transition_flag(
    df: DataFrame,
    state_col: str,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out_col: str = "is_stage_transition",
) -> DataFrame:
    """lag + CASE change-detection flag; first row in a partition is false.

    Reference: ``models/intermediate/sleep_metrics.sql:49-59``.
    """
    w = entity_window(partition_by, order_by)
    prev = F.lag(state_col).over(w)
    flag = (
        F.when(prev.isNull(), F.lit(False))
        .when(prev != F.col(state_col), F.lit(True))
        .otherwise(F.lit(False))
    )
    return df.withColumn(out_col, flag)


#: Fixed-point scale for z-score power sums: 2^20 (≈ 1e-6 quantization,
#: the same precision as the round-to-6 output contract).  Smaller than
#: FP_SCALE because the SQUARED sums must fit DECIMAL(38,0):
#: floor(|x|·2^20) at |x| ≈ 1e9 is ≈ 1.05e15, squared ≈ 1.1e30, so the
#: 10^38 cap leaves ≈ 1e8 rows/group of headroom.  Under ANSI mode
#: (the Spark 4 default this engine runs with) decimal overflow RAISES
#: — matching DuckDB — so an out-of-contract input fails loudly on
#: both sides instead of silently diverging; legacy non-ANSI sessions
#: would NULL the sum instead.  Keep |x|·sqrt(rows_per_group) ≲ 1e13
#: or lower FP_Z for wider data.
FP_Z = float(1 << 20)


def with_group_zscore(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: Sequence[str],
    suffix: str = "_z",
) -> DataFrame:
    """Per-group z-score via grouped power sums + broadcast join (R19).

    ``(x - mean) / sample_std`` per partition, matching DuckDB/
    Snowflake ``stddev`` semantics (n > 1, null-skipping; NULL when the
    variance is zero or negative — sqrt never sees a negative operand).
    Reference: ``models/marts/ml/sleep_features.sql:19-43``.

    mean/std derive from fixed-point power sums: ``floor(x·2^20)``
    summed exactly in DECIMAL (order-free), then one double expression
    per statistic — bit-identical across runs, engines, partition
    lengths and merge orders.

    The sums come from one map-side-combinable ``groupBy`` and are
    broadcast-joined back (null-safe on the keys, mirroring window
    PARTITION BY null grouping) — at 100 TB the stats frame is one row
    per entity, so this costs a partial agg + broadcast instead of
    buffering every partition inside a whole-partition window frame
    (the shape that regressed 1.9× in round 2).
    """
    keys = list(partition_by)
    aggs = []
    for c in cols:
        qd = F.floor(F.col(c) * FP_Z).cast("decimal(19,0)")
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            F.sum(qd).alias(f"__sq_{c}"),
            F.sum(qd * qd).alias(f"__sqq_{c}"),
        ]
    stats = df.groupBy(*[F.col(k).alias(f"__k_{k}") for k in keys]).agg(*aggs)
    cond = None
    for k in keys:
        eq = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = eq if cond is None else cond & eq
    joined = df.join(F.broadcast(stats), cond)
    out = {}
    for c in cols:
        n = F.col(f"__n_{c}")
        sq = F.col(f"__sq_{c}").cast("double")
        sqq = F.col(f"__sqq_{c}").cast("double")
        mean = sq / (F.lit(FP_Z) * n)
        var = (
            sqq / F.lit(FP_Z * FP_Z) - (sq / F.lit(FP_Z)) * (sq / F.lit(FP_Z)) / n
        ) / (n - 1)
        # var > 0 guard: double rounding of E[x²]−E[x]² can go slightly
        # negative for near-constant groups; Spark sqrt(neg) = NaN (and
        # NaN != 0 is true, so a nullif-style guard leaks it) while
        # DuckDB sqrt(neg) raises.  NULL-on-nonpositive is the one
        # behavior both engines express identically.
        std = F.when((n > 1) & (var > 0), F.sqrt(var))
        out[f"{c}{suffix}"] = (F.col(c) - mean) / std
    joined = joined.withColumns(out)
    drop = [f"__k_{k}" for k in keys]
    drop += [f"__{p}_{c}" for c in cols for p in ("n", "sq", "sqq")]
    return joined.drop(*drop)


def safe_div(num: Column, den: Column) -> Column:
    """``num / nullif(den, 0)`` — the reference's division guard."""
    return num / F.when(den != 0, den)
