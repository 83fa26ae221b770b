"""Single source of truth for the epoch data model.

The reference enforces one fixed schema in three places (Pandera contract
at ``validators.py:6-20``, warehouse DDL at ``warehouse/duckdb_client.py:
33-56``, dbt staging casts at ``models/staging/staging_sleep_data.sql:
15-23``).  Here one ``StructType`` plays all three roles; validation
(quality.validate) and DDL-drift tests assert against it.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Valid clinical sleep stages (Pandera ``isin`` contract, validators.py:12).
SLEEP_STAGES = ("W", "N1", "N2", "N3", "REM")

#: Stages dropped at ingest before validation (ingest/processing.py:168-180).
INVALID_STAGES = ("MOVE", "NAN")

#: Annotation-string → clinical-stage decode map (ingest/config.py:23-32).
#: Stages 3 and 4 both collapse to N3 per AASM scoring.
SLEEP_STAGE_MAP = {
    "Sleep stage W": "W",
    "Sleep stage 1": "N1",
    "Sleep stage 2": "N2",
    "Sleep stage 3": "N3",
    "Sleep stage 4": "N3",
    "Sleep stage R": "REM",
    "Sleep stage ?": "NAN",
    "Movement time": "MOVE",
}

#: Spectral bands in Hz: (name, fmin, fmax) (ingest/processing.py:151-155).
BANDS = (
    ("delta", 0.5, 4.0),
    ("theta", 4.0, 8.0),
    ("alpha", 8.0, 12.0),
    ("sigma", 12.0, 16.0),
    ("beta", 16.0, 30.0),
)

BAND_POWER_COLS = tuple(f"{name}_power" for name, _, _ in BANDS)

#: Epoch length and episode-gap constants (dbt_project.yml:19-23).
EPOCH_LENGTH_SECONDS = 30
SLEEP_EPISODE_GAP_MINUTES = 60
#: (60 min * 60 s) / 30 s = 120 epochs of continuous wake ends an episode.
GAP_EPOCHS = int(SLEEP_EPISODE_GAP_MINUTES * 60 / EPOCH_LENGTH_SECONDS)
EPOCH_MINUTES = EPOCH_LENGTH_SECONDS / 60.0

#: Raw epoch fact-table schema (SLEEP_EPOCHS DDL, duckdb_client.py:33-45).
EPOCH_SCHEMA = StructType(
    [
        StructField("subject_id", IntegerType(), nullable=False),
        StructField("epoch_idx", IntegerType(), nullable=False),
        StructField("stage", StringType(), nullable=False),
        StructField("delta_power", DoubleType(), nullable=False),
        StructField("theta_power", DoubleType(), nullable=False),
        StructField("alpha_power", DoubleType(), nullable=False),
        StructField("sigma_power", DoubleType(), nullable=False),
        StructField("beta_power", DoubleType(), nullable=False),
        StructField("load_timestamp", TimestampType(), nullable=True),
    ]
)

#: Error/observability table (INGESTION_ERRORS DDL, duckdb_client.py:47-56).
ERROR_SCHEMA = StructType(
    [
        StructField("error_id", StringType(), nullable=False),
        StructField("subject_id", IntegerType(), nullable=True),
        StructField("error_type", StringType(), nullable=True),
        StructField("error_message", StringType(), nullable=True),
        StructField("stack_trace", StringType(), nullable=True),
        StructField("occurred_at", TimestampType(), nullable=False),
    ]
)

#: Synthetic test tables (driver-provided TPC-H-ish corpus, TESTDATA.md).
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def surrogate_epoch_id(subject_col: str = "subject_id", idx_col: str = "epoch_idx"):
    """``md5(subject_id || '-' || epoch_idx)`` surrogate key.

    Mirrors dbt_utils.generate_surrogate_key usage at
    ``models/staging/staging_sleep_data.sql:10-11``.
    """
    return F.md5(
        F.concat_ws(
            "-",
            F.col(subject_col).cast("string"),
            F.col(idx_col).cast("string"),
        )
    )
