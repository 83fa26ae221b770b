"""Distributed EDF ingest source (SURVEY §2.1 S1-S4, §2.2 P1-P8).

Spark-first restatement of the reference's per-subject thread-pool
extractor (``pipeline.py:178-206``): one EDF file = one ``binaryFile``
row = one task; ``mapInPandas`` parses the file, segments 30 s epochs,
computes Welch band powers (functions.bandpower), decodes stages, drops
MOVE/NAN epochs, and emits contract-shaped rows in Arrow batches.

Scale design:
- the scan parallelizes across files; Spark's scheduler replaces the
  reference's bounded pool and ``spark.task.maxFailures`` replaces its
  retry decorator;
- Arrow batch size (session conf) bounds memory exactly like the
  reference's 100-epoch generator;
- channel selection (EEG picks only) happens before any spectral math —
  the P2 column-pruning optimization;
- stage annotations ride a sidecar table joined by (subject, epoch) or
  a per-file callback; PhysioNet's annotation strings decode through
  schema.SLEEP_STAGE_MAP.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bandpower import epoch_band_powers
from ..schema import (
    BAND_POWER_COLS,
    INVALID_STAGES,
    SLEEP_STAGE_MAP,
)
from .edf_format import read_edf

#: Channels whose labels match are treated as EEG (the reference
#: re-types non-EEG channels so they are excluded from PSD, P1).
EEG_LABEL_PATTERN = re.compile(r"EEG", re.IGNORECASE)

EXTRACT_SCHEMA = (
    "subject_id int, epoch_idx int, stage string, "
    + ", ".join(f"{c} double" for c in BAND_POWER_COLS)
)

#: (subject_id, n_epochs) -> stage annotation strings per epoch.
StageProvider = Callable[[int, int], list[str]]


def cyclic_demo_stages(subject_id: int, n_epochs: int) -> list[str]:
    """Deterministic W→N2→N3→REM cycle — a demo/test StageProvider.

    Real deployments supply a provider that reads the PhysioNet
    hypnogram annotation files (S2); providers must be module-level so
    they pickle to executors.
    """
    base = ["Sleep stage W", "Sleep stage 2", "Sleep stage 3", "Sleep stage R"]
    return [base[i % len(base)] for i in range(n_epochs)]


def subject_id_from_path(path: str) -> int:
    """Extract the subject number from a file name (digits in stem)."""
    stem = os.path.basename(path)
    m = re.search(r"(\d+)", stem)
    if not m:
        raise ValueError(f"no subject id in {path}")
    return int(m.group(1))


def extract_epochs_from_bytes(
    subject_id: int,
    data: bytes,
    stage_provider: StageProvider,
    epoch_len_s: float = 30.0,
) -> pd.DataFrame:
    """Parse one EDF payload into contract-shaped epoch rows."""
    signals = read_edf(data)
    eeg = [s for s in signals if EEG_LABEL_PATTERN.search(s.label)]
    if not eeg:
        raise ValueError(f"subject {subject_id}: no EEG channels")
    sfreq = eeg[0].sfreq
    x = np.stack([s.physical for s in eeg])  # (n_channels, n_samples)
    powers = epoch_band_powers(x, sfreq, epoch_len_s)
    n_epochs = powers.shape[0]

    raw_stages = stage_provider(subject_id, n_epochs)
    stages = [SLEEP_STAGE_MAP.get(s, s) for s in raw_stages[:n_epochs]]

    df = pd.DataFrame(
        {
            "subject_id": np.int32(subject_id),
            "epoch_idx": np.arange(n_epochs, dtype=np.int32),
            "stage": stages,
            **{c: powers[:, j] for j, c in enumerate(BAND_POWER_COLS)},
        }
    )
    # P6: invalid-epoch filter before validation.
    return df[~df["stage"].isin(INVALID_STAGES)].reset_index(drop=True)


def read_edf_epochs(
    spark: SparkSession,
    path: str,
    stage_provider: StageProvider,
    epoch_len_s: float = 30.0,
) -> DataFrame:
    """Scan a directory of ``*.edf`` and extract epoch rows distributedly.

    ``binaryFile`` gives (path, content) rows; ``mapInPandas`` runs the
    parser once per file partition.  Only ``*.edf`` names are read, as
    in ``EdfDataSource``: a stray file in the directory is skipped,
    not parsed (and failed on).  The stage_provider must be a
    picklable top-level callable (it ships to executors).
    """
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.edf").load(path)
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                yield extract_epochs_from_bytes(
                    subject_id_from_path(row["path"]),
                    bytes(row["content"]),
                    stage_provider,
                    epoch_len_s,
                )

    return (
        files.select("path", "content")
        .mapInPandas(extract, schema=EXTRACT_SCHEMA)
        .withColumn("load_timestamp", F.current_timestamp())
    )
