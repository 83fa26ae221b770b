"""EDF format round-trip + distributed ingest source tests."""

from __future__ import annotations

import numpy as np
import pytest

from sleep_edf_data_pipeline_spark.schema import BAND_POWER_COLS, SLEEP_STAGES
from sleep_edf_data_pipeline_spark.sources.edf import (
    cyclic_demo_stages,
    extract_epochs_from_bytes,
    read_edf_epochs,
    subject_id_from_path,
)
from sleep_edf_data_pipeline_spark.sources.edf_format import read_edf, write_edf


def _synthetic_edf(n_epochs: int = 4, fs: float = 100.0) -> bytes:
    rng = np.random.default_rng(3)
    n = int(n_epochs * 30 * fs)
    t = np.arange(n) / fs
    eeg1 = 50 * np.sin(2 * np.pi * 10 * t) + rng.normal(0, 5, n)
    eeg2 = 30 * np.sin(2 * np.pi * 2 * t) + rng.normal(0, 5, n)
    resp = rng.normal(0, 20, n)
    return write_edf(
        [
            ("EEG Fpz-Cz", fs, eeg1),
            ("EEG Pz-Oz", fs, eeg2),
            ("Resp oro-nasal", fs, resp),
        ]
    )


def test_edf_roundtrip_preserves_signals():
    fs = 100.0
    x = np.linspace(-400, 400, int(30 * fs))
    data = write_edf([("EEG test", fs, x)])
    sigs = read_edf(data)
    assert len(sigs) == 1
    assert sigs[0].label == "EEG test"
    assert sigs[0].sfreq == fs
    # int16 quantization over ±500 µV → ~0.015 µV resolution
    assert np.abs(sigs[0].physical - x).max() < 0.05


def test_subject_id_from_path():
    assert subject_id_from_path("/data/subject_12.edf") == 12
    with pytest.raises(ValueError):
        subject_id_from_path("/data/nodigits.edf")


def test_extract_epochs_shape_and_contract():
    pdf = extract_epochs_from_bytes(5, _synthetic_edf(4), cyclic_demo_stages)
    assert list(pdf.columns) == [
        "subject_id",
        "epoch_idx",
        "stage",
        *BAND_POWER_COLS,
    ]
    assert len(pdf) == 4
    assert set(pdf["stage"]).issubset(set(SLEEP_STAGES))
    assert pdf[list(BAND_POWER_COLS)].notna().all().all()


def test_extract_drops_move_nan_epochs():
    def stages(subject_id, n):
        return ["Movement time", "Sleep stage ?", "Sleep stage W", "Sleep stage 2"][:n]

    pdf = extract_epochs_from_bytes(1, _synthetic_edf(4), stages)
    assert len(pdf) == 2
    assert set(pdf["stage"]) == {"W", "N2"}


def test_extract_requires_eeg_channel():
    fs = 100.0
    data = write_edf([("Resp only", fs, np.zeros(int(30 * fs)))])
    with pytest.raises(ValueError, match="no EEG"):
        extract_epochs_from_bytes(1, data, cyclic_demo_stages)


def test_distributed_edf_scan(spark, tmp_path):
    """binaryFile + mapInPandas end-to-end: 2 files → epoch rows."""
    d = tmp_path / "edf"
    d.mkdir()
    for sid in (1, 2):
        (d / f"subject_{sid}.edf").write_bytes(_synthetic_edf(3))
    df = read_edf_epochs(spark, str(d), cyclic_demo_stages)
    rows = df.collect()
    assert len(rows) == 6
    assert {r["subject_id"] for r in rows} == {1, 2}
    assert all(np.isfinite(r["delta_power"]) for r in rows)


def test_edf_scan_skips_non_edf_files(spark, tmp_path):
    """A stray non-EDF file next to the recordings is not parsed: the
    load reads only ``*.edf`` names instead of failing on the stray."""
    d = tmp_path / "edf"
    d.mkdir()
    for sid in (1, 2):
        (d / f"subject_{sid}.edf").write_bytes(_synthetic_edf(3))
    (d / "notes.txt").write_text("scored by hand, see the lab sheet\n")
    rows = read_edf_epochs(spark, str(d), cyclic_demo_stages).collect()
    assert len(rows) == 6
    assert {r["subject_id"] for r in rows} == {1, 2}


def test_edf_python_datasource(spark, tmp_path):
    """spark.read.format('edf'): one InputPartition per file, Arrow rows."""
    from sleep_edf_data_pipeline_spark.sources.edf_datasource import EdfDataSource

    for sid in (3, 7):
        (tmp_path / f"subject_{sid}.edf").write_bytes(_synthetic_edf(n_epochs=3))
    spark.dataSource.register(EdfDataSource)
    df = (
        spark.read.format("edf")
        .option("stages", "cyclic")
        .load(str(tmp_path))
    )
    rows = df.collect()
    assert {r["subject_id"] for r in rows} == {3, 7}
    # cyclic provider: epoch 0 = W (never filtered in a 3-epoch file)
    assert all(r["stage"] in SLEEP_STAGES for r in rows)
    per_subject = df.groupBy("subject_id").count().collect()
    assert all(r["count"] == 3 for r in per_subject)
    # partition-per-file: the scan parallelism equals the file count
    assert df.rdd.getNumPartitions() == 2


def test_edf_streaming_datasource(spark, tmp_path):
    """spark.readStream.format('edf'): new files become micro-batches,
    and a checkpointed restart ingests only files not yet committed."""
    from sleep_edf_data_pipeline_spark.sources.edf_datasource import EdfDataSource

    src = tmp_path / "edf_stream"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (src / "subject_1.edf").write_bytes(_synthetic_edf(n_epochs=2))
    spark.dataSource.register(EdfDataSource)

    def run_once():
        q = (
            spark.readStream.format("edf")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out)
    assert {r["subject_id"] for r in first.select("subject_id").distinct().collect()} == {1}
    n_first = first.count()

    # A new file arrives; the restarted query resumes from the
    # checkpointed offset: subject 2 is ingested, subject 1 NOT re-read.
    (src / "subject_2.edf").write_bytes(_synthetic_edf(n_epochs=2))
    run_once()
    after = spark.read.parquet(out)
    assert {r["subject_id"] for r in after.select("subject_id").distinct().collect()} == {1, 2}
    assert after.filter("subject_id = 1").count() == n_first  # exactly-once
