"""The analytical DAG: staging → metrics → summary / features.

Spark-first restatement of the reference dbt project
(``models/staging/staging_sleep_data.sql``,
``models/intermediate/sleep_metrics.sql``,
``models/marts/core/sleep_summary.sql``,
``models/marts/ml/sleep_features.sql``).  Each model is a pure
``DataFrame → DataFrame`` function; Catalyst optimizes every node and
the shared ``metrics`` subplan is deduplicated by the ReuseExchange
rule when both marts consume it in one action.

Scale notes (100 TB): the whole metrics chain uses one
hash(subject_id) exchange (see operators.windows); the
episode-ranking and bounds sides are tiny per-entity aggregates and
are broadcast.  Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.islands import (
    with_episode_breaks,
    with_episode_ids,
    with_main_episode_bounds,
    with_run_keys,
)
from ..operators.windows import (
    safe_div,
    with_group_zscore,
    with_moving_averages,
    with_transition_flag,
)
from ..schema import EPOCH_MINUTES, GAP_EPOCHS, surrogate_epoch_id

BANDS = ("delta", "theta", "alpha", "sigma", "beta")
ENTITY = ["subject_id"]
ORDER = ["epoch_idx"]


def staging(epochs: DataFrame) -> DataFrame:
    """Surrogate key + explicit cast projection (R1-R3).

    Reference: ``models/staging/staging_sleep_data.sql``.  The reference
    casts powers to warehouse FLOAT (documented as 64-bit in Snowflake);
    we standardize on DoubleType.
    """
    return epochs.select(
        surrogate_epoch_id().alias("epoch_id"),
        F.col("subject_id").cast("int").alias("subject_id"),
        F.col("epoch_idx").cast("int").alias("epoch_idx"),
        F.col("stage").cast("string").alias("sleep_stage"),
        *[
            F.col(f"{b}_power").cast("double").alias(f"{b}_power_uv")
            for b in BANDS
        ],
    )


def metrics(
    staged: DataFrame,
    gap_epochs: int = GAP_EPOCHS,
    wake_stage: str = "W",
) -> DataFrame:
    """Windows + gaps-and-islands episode detection (R4-R14).

    Reference: ``models/intermediate/sleep_metrics.sql`` — moving
    averages, transition flags, episode detection with a
    ``gap_epochs``-long wake-run break rule, main-episode selection by
    most contained sleep, and the in-sleep-period flag.
    """
    df = with_moving_averages(
        staged, [f"{b}_power_uv" for b in BANDS], ENTITY, ORDER
    )
    # withColumns keeps original names; rename to the mart's column names.
    for b in BANDS:
        df = df.withColumnRenamed(f"{b}_power_uv_moving_avg", f"{b}_moving_avg")
    df = with_transition_flag(df, "sleep_stage", ENTITY, ORDER)
    df = df.withColumn(
        "is_sleep", F.when(F.col("sleep_stage") == wake_stage, 0).otherwise(1)
    )
    df = with_run_keys(df, "is_sleep", ENTITY, ORDER)
    df = with_episode_breaks(df, gap_epochs, ENTITY)
    episodes = with_episode_ids(df, ENTITY, ORDER)

    # Join-free main-episode scoping: the whole chain shares one
    # hash(subject_id) exchange (see operators.islands docstring).
    out = with_main_episode_bounds(
        episodes, ENTITY, "epoch_idx"
    ).withColumnRenamed("is_in_period", "is_in_sleep_period")
    return out.select(
        "epoch_id",
        "subject_id",
        "epoch_idx",
        "sleep_stage",
        *[f"{b}_power_uv" for b in BANDS],
        *[f"{b}_moving_avg" for b in BANDS],
        "is_stage_transition",
        "is_sleep",
        "episode_id",
        F.col("onset_idx").alias("sleep_onset_epoch_idx"),
        F.col("final_idx").alias("final_awakening_epoch_idx"),
        "is_in_sleep_period",
    )


def summary(metrics_df: DataFrame, epoch_minutes: float = EPOCH_MINUTES) -> DataFrame:
    """Per-subject episode-scoped summary (R15-R17).

    Reference: ``models/marts/core/sleep_summary.sql`` — conditional
    counts and null-skipping conditional averages scoped to the main
    sleep episode, then minute/ratio conversions with nullif guards.
    """
    in_p = F.col("is_in_sleep_period")
    stage = F.col("sleep_stage")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731

    # Episode-scoped band-power means in fixed point: an exact BIGINT
    # sum of floor(v·2^28) ÷ (2^28·count) is bit-stable under ANY
    # partial-aggregation merge order (run-to-run AND cross-engine), so
    # a plain groupBy works — no ordered full-partition frame needed.
    # See operators/windows.py FP_SCALE for the error analysis.
    from ..operators.windows import FP_SCALE

    def _fp_avg(b: str) -> F.Column:
        q = F.floor(F.col(f"{b}_moving_avg") * FP_SCALE)
        return F.sum(F.when(in_p, q)).cast("double") / (
            F.lit(FP_SCALE) * F.sum(F.when(in_p, 1))
        )

    counts = metrics_df.groupBy("subject_id").agg(
        F.count("*").alias("recording_epochs"),
        cnt(in_p).alias("sleep_period_epochs"),
        cnt(in_p & stage.isin("N1", "N2", "N3", "REM")).alias("sleep_epochs"),
        cnt(in_p & (stage == "N3")).alias("deep_epochs"),
        cnt(in_p & stage.isin("N1", "N2")).alias("light_epochs"),
        cnt(in_p & (stage == "REM")).alias("rem_epochs"),
        cnt(in_p & (stage == "W")).alias("waso_epochs"),
        cnt(in_p & F.col("is_stage_transition") & (stage == "W")).alias(
            "awakening_count"
        ),
        *[_fp_avg(b).alias(f"avg_{b}_power") for b in BANDS],
    )
    minutes = F.lit(epoch_minutes)
    return counts.select(
        "subject_id",
        (F.col("recording_epochs") * minutes).alias("total_recording_minutes"),
        (F.col("sleep_period_epochs") * minutes).alias("sleep_period_minutes"),
        (F.col("sleep_epochs") * minutes).alias("total_sleep_minutes"),
        (F.col("waso_epochs") * minutes).alias("waso_minutes"),
        F.col("awakening_count").alias("number_of_awakenings"),
        safe_div(
            F.col("sleep_epochs"), F.col("sleep_period_epochs").cast("double")
        ).alias("sleep_efficiency"),
        (F.col("deep_epochs") * minutes).alias("deep_sleep_minutes"),
        safe_div(F.col("deep_epochs"), F.col("sleep_epochs").cast("double")).alias(
            "deep_sleep_percentage"
        ),
        (F.col("light_epochs") * minutes).alias("light_sleep_minutes"),
        safe_div(F.col("light_epochs"), F.col("sleep_epochs").cast("double")).alias(
            "light_sleep_percentage"
        ),
        (F.col("rem_epochs") * minutes).alias("rem_sleep_minutes"),
        safe_div(F.col("rem_epochs"), F.col("sleep_epochs").cast("double")).alias(
            "rem_sleep_percentage"
        ),
        *[f"avg_{b}_power" for b in BANDS],
    )


def features(metrics_df: DataFrame) -> DataFrame:
    """Per-epoch ML features: biomarker ratios + per-subject z-scores (R18-R19).

    Reference: ``models/marts/ml/sleep_features.sql``.
    """
    ratios = metrics_df.withColumns(
        {
            "delta_beta_ratio": safe_div(
                F.col("delta_moving_avg"), F.col("beta_moving_avg")
            ),
            "delta_alpha_ratio": safe_div(
                F.col("delta_moving_avg"), F.col("alpha_moving_avg")
            ),
            "theta_alpha_ratio": safe_div(
                F.col("theta_moving_avg"), F.col("alpha_moving_avg")
            ),
        }
    )
    z = with_group_zscore(
        ratios,
        ["delta_beta_ratio", "delta_alpha_ratio", "theta_alpha_ratio"],
        ENTITY,
    )
    return z.select(
        "epoch_id",
        "subject_id",
        "sleep_stage",
        "delta_beta_ratio_z",
        "delta_beta_ratio",
        "delta_alpha_ratio_z",
        "delta_alpha_ratio",
        "theta_alpha_ratio_z",
        "theta_alpha_ratio",
    )
