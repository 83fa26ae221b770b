"""Gaps-and-islands / episode-detection operators (SURVEY §2.3 R6-R14).

The reference detects "sleep episodes" by splitting each subject's
recording wherever a contiguous wake run exceeds a gap threshold, then
keeps the episode containing the most sleep
(``models/intermediate/sleep_metrics.sql:62-148``).  This is a batch
session-window: the streaming-native restatement lives in
``streaming.sessions``.

All windows partition by the entity key first so the whole chain shares
one exchange (see operators.windows module docstring).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import entity_window


def with_run_keys(
    df: DataFrame,
    state_col: str,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out_col: str = "run_key",
) -> DataFrame:
    """Classic islands id: difference of two row_numbers (R7).

    Rows in one contiguous same-state run share
    ``row_number() over (entity) - row_number() over (entity, state)``.
    Reference: ``sleep_metrics.sql:84-92``.
    """
    w_all = entity_window(partition_by, order_by)
    w_state = entity_window([*partition_by, state_col], order_by)
    return df.withColumn(out_col, F.row_number().over(w_all) - F.row_number().over(w_state))


def with_episode_breaks(
    df: DataFrame,
    gap_epochs: int,
    partition_by: Sequence[str],
    state_col: str = "is_sleep",
    run_col: str = "run_key",
    out_col: str = "is_episode_break",
) -> DataFrame:
    """Flag runs of the inactive state at least ``gap_epochs`` long (R8).

    Unordered count(*) over (entity, state, run) — threshold is a plain
    Python constant (the reference folds it from Jinja vars).
    Reference: ``sleep_metrics.sql:94-107``.
    """
    w_run = Window.partitionBy(*partition_by, state_col, run_col)
    flag = F.when(
        (F.col(state_col) == 0) & (F.count("*").over(w_run) >= gap_epochs),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(out_col, flag)


def with_episode_ids(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    break_col: str = "is_episode_break",
    out_col: str = "episode_id",
) -> DataFrame:
    """Running sum of break flags → episode id (R9).

    Reference: ``sleep_metrics.sql:109-118``.
    """
    w = entity_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(break_col).over(w))


def rank_episodes(
    df: DataFrame,
    partition_by: Sequence[str],
    state_col: str = "is_sleep",
    episode_col: str = "episode_id",
) -> DataFrame:
    """Rank episodes by contained sleep; drop all-wake episodes (R10).

    group by (entity, episode) having sum(state) > 0, then row_number
    ordered (sum desc, episode asc) — episode id breaks ties so exactly
    one episode wins.  Reference: ``sleep_metrics.sql:120-132``.
    """
    agg = (
        df.groupBy(*partition_by, episode_col)
        .agg(F.sum(state_col).alias("_sleep_total"))
        .filter(F.col("_sleep_total") > 0)
    )
    w = Window.partitionBy(*partition_by).orderBy(
        F.desc("_sleep_total"), F.asc(episode_col)
    )
    return agg.withColumn("episode_rank", F.row_number().over(w)).drop("_sleep_total")


def episode_bounds(
    episodes: DataFrame,
    ranked: DataFrame,
    partition_by: Sequence[str],
    idx_col: str,
    state_col: str = "is_sleep",
    episode_col: str = "episode_id",
) -> DataFrame:
    """Onset / final-awakening bounds of the top-ranked episode (R11-R12).

    Inner equi-join on (entity, episode) with rank=1 filter — the ranked
    side is tiny (≤ entities × episodes rows) so it is broadcast.
    Conditional min/max keeps only in-state epochs.
    Reference: ``sleep_metrics.sql:134-148``.
    """
    top = ranked.filter(F.col("episode_rank") == 1).select(*partition_by, episode_col)
    in_state = F.when(F.col(state_col) == 1, F.col(idx_col))
    return (
        episodes.join(F.broadcast(top), [*partition_by, episode_col], "inner")
        .groupBy(*partition_by)
        .agg(
            F.min(in_state).alias("onset_idx"),
            F.max(in_state).alias("final_idx"),
        )
    )


def with_main_episode_bounds(
    df: DataFrame,
    partition_by: Sequence[str],
    idx_col: str,
    state_col: str = "is_sleep",
    episode_col: str = "episode_id",
) -> DataFrame:
    """Join-free main-episode bounds via windows (R10-R14 fused).

    Equivalent to rank_episodes + episode_bounds + a broadcast left join
    of the bounds, but expressed entirely as windows sharing the entity
    partitioning:

    - per-episode sleep totals: sum over (entity, episode) — satisfied
      by hash(entity) clustering, sort-only;
    - winning episode: dense_rank over (entity) ordered by
      (total DESC, episode ASC) — every row of the winning episode gets
      rank 1, ties broken deterministically like the reference's
      row_number (``sleep_metrics.sql:120-132``);
    - bounds: conditional min/max over the entity partition (integer
      min/max — order-independent, no determinism caveat);
    - entities with no in-state rows keep null bounds → flag false.

    At scale this removes two groupBy shuffles, two joins, and the 3×
    recompute of the episodes subplan that the join formulation costs.
    Adds: ``onset_idx``, ``final_idx``, ``is_in_period``.
    """
    w_ep = Window.partitionBy(*partition_by, episode_col)
    w_rank = Window.partitionBy(*partition_by).orderBy(
        F.desc("_ep_sleep_total"), F.asc(episode_col)
    )
    w_entity = Window.partitionBy(*partition_by)

    df = df.withColumn("_ep_sleep_total", F.sum(state_col).over(w_ep))
    df = df.withColumn("_ep_rank", F.dense_rank().over(w_rank))
    winning = (F.col("_ep_rank") == 1) & (F.col("_ep_sleep_total") > 0)
    in_state_idx = F.when(winning & (F.col(state_col) == 1), F.col(idx_col))
    df = df.withColumn("onset_idx", F.min(in_state_idx).over(w_entity))
    df = df.withColumn("final_idx", F.max(in_state_idx).over(w_entity))
    flag = F.coalesce(
        F.col(idx_col).between(F.col("onset_idx"), F.col("final_idx")),
        F.lit(False),
    )
    return df.withColumn("is_in_period", flag).drop("_ep_sleep_total", "_ep_rank")
