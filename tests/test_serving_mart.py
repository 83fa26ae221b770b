"""Materialized serving marts: build-once, pruned scans, invalidation.

VERDICT r04 item 5: the reference's dashboard reads dbt-materialized
TABLES; serving a point lookup by recomputing the staging→metrics→
summary DAG is the wrong serving story at scale.  These tests pin the
mart lifecycle — the oracle VALUES are covered by the driver mirror
(test_oracle_parity) since the serving queries keep their oracles.
"""

from __future__ import annotations

import errno
import os
import shutil

import pytest

from sleep_edf_data_pipeline_spark import marts
from sleep_edf_data_pipeline_spark.queries.serving import (
    LOOKUP_SUBJECT,
    _metrics_mart,
    q_subject_lookup,
    q_subject_timeseries,
)
from sleep_edf_data_pipeline_spark.writers.layout import scan_rows_read, write_clustered


def test_timeseries_scan_prunes_to_subject_range(spark, sf_dir):
    """The metrics mart is range-clustered on subject_id, so the
    per-subject timeseries scan must read a minority of the mart's
    rows (file-level min/max pruning) — the reason the mart exists."""
    total = _metrics_mart(spark, sf_dir).count()
    read = scan_rows_read(spark, q_subject_timeseries(spark, sf_dir))
    kept = q_subject_timeseries(spark, sf_dir).count()
    assert kept > 0
    # 4 range files over ~15 subjects: one subject's range is ~1 file
    assert read <= total * 0.6, (read, total)


def test_mart_build_runs_once_per_corpus(spark, sf_dir):
    """Second serve() of a committed mart must NOT invoke build."""
    q_subject_lookup(spark, sf_dir).collect()  # ensure built

    def explode():  # pragma: no cover - must never run
        raise AssertionError("mart rebuilt despite committed copy")

    df = marts.serve(
        spark, sf_dir, "sleep_summary", "events", explode,
        cluster_cols=["subject_id"], n_files=1,
    )
    assert df.filter(df.subject_id == LOOKUP_SUBJECT).count() == 1


def test_fingerprint_invalidates_on_rewrite(tmp_path):
    """A rewritten source table must route to a NEW mart path."""
    src = tmp_path / "corpus"
    src.mkdir()
    f = src / "events.parquet"
    f.write_bytes(b"v1-bytes")
    p1 = marts._mart_path(str(src), "events", "sleep_summary")
    f.write_bytes(b"v2-bytes-longer")
    p2 = marts._mart_path(str(src), "events", "sleep_summary")
    assert p1 != p2
    # unchanged content → same path (stat-stable)
    assert p2 == marts._mart_path(str(src), "events", "sleep_summary")


def test_lost_rename_race_discards_loser(spark, sf_dir, monkeypatch, tmp_path):
    """If another builder commits first, serve() keeps the winner's
    copy and removes its own tmp dir."""
    # point the mart root at a scratch dir so we control commit state
    monkeypatch.setattr(marts, "MART_ROOT", str(tmp_path / "marts"))
    path = marts._mart_path(sf_dir, "events", "sleep_summary")

    real_rename = os.rename

    def racing_rename(srcp, dstp):
        if dstp == path and not os.path.exists(dstp):
            # simulate the concurrent winner committing first
            shutil.copytree(srcp, dstp)
        return real_rename(srcp, dstp)  # now fails: dst exists

    monkeypatch.setattr(os, "rename", racing_rename)
    from sleep_edf_data_pipeline_spark.queries.sleep_relational import (
        q_sleep_summary,
    )

    df = marts.serve(
        spark, sf_dir, "sleep_summary", "events",
        lambda: q_sleep_summary(spark, sf_dir),
        cluster_cols=["subject_id"], n_files=1,
    )
    assert df.count() > 0
    parent = os.path.dirname(path)
    leftovers = [n for n in os.listdir(parent) if ".tmp-" in n]
    assert leftovers == []


def test_failed_rename_propagates(spark, sf_dir, monkeypatch, tmp_path):
    """A commit rename that fails for any reason other than a lost race
    (here EXDEV) must raise its own error, not surface later as a
    missing-path read, and must still remove the tmp copy."""
    monkeypatch.setattr(marts, "MART_ROOT", str(tmp_path / "marts"))
    path = marts._mart_path(sf_dir, "events", "xdev_mart")

    def cross_device(srcp, dstp):
        raise OSError(errno.EXDEV, "Invalid cross-device link", srcp)

    monkeypatch.setattr(os, "rename", cross_device)
    with pytest.raises(OSError) as exc:
        marts.serve(
            spark, sf_dir, "xdev_mart", "events", lambda: spark.range(8),
            cluster_cols=["id"], n_files=1,
        )
    assert exc.value.errno == errno.EXDEV
    parent = os.path.dirname(path)
    assert [n for n in os.listdir(parent) if ".tmp-" in n] == []
    assert not os.path.exists(path)


def _job_ids(spark) -> set[int]:
    # listener events are delivered asynchronously: drain the bus so
    # every job that already ran is in the status store
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _serve_values(spark, sf_dir, name, values):
    rows = list(enumerate(values))
    return marts.serve(
        spark, sf_dir, name, "events",
        lambda: spark.createDataFrame(rows, "id bigint, v bigint"),
        cluster_cols=["id"], n_files=2,
    )


def test_warm_hit_issues_no_spark_job(spark, sf_dir):
    """A hit on a committed mart is the memoized frame: resolving it
    runs no Spark job (a bare ``spark.read.parquet`` runs a schema-
    inference job), and it answers exactly like a fresh read."""
    q_subject_lookup(spark, sf_dir).collect()  # warm: built and read once
    before = _job_ids(spark)
    df = marts.serve(
        spark, sf_dir, "sleep_summary", "events", None,  # committed: no build
        cluster_cols=["subject_id"], n_files=1,
    )
    assert _job_ids(spark) - before == set()
    path = marts._mart_path(sf_dir, "events", "sleep_summary")
    fresh = spark.read.parquet(path)
    want = fresh.filter(fresh.subject_id == LOOKUP_SUBJECT).collect()
    assert want
    assert df.filter(df.subject_id == LOOKUP_SUBJECT).collect() == want


def test_memo_is_per_session(spark, sf_dir):
    """A frame memoized in one session is never handed to another: it
    would run under the first session's conf."""
    q_subject_lookup(spark, sf_dir).collect()
    other = spark.newSession()
    df = marts.serve(
        other, sf_dir, "sleep_summary", "events", None,  # committed: no build
        cluster_cols=["subject_id"], n_files=1,
    )
    assert df.sparkSession is other


@pytest.mark.parametrize("rebuild", ["clear_marts", "out_of_band"])
def test_memo_rereads_a_rebuilt_mart(spark, sf_dir, monkeypatch, tmp_path, rebuild):
    """A mart rebuilt at the same path — by serve() after
    ``clear_marts()``, or by another builder after an ``rmtree`` that
    left the memo in place — is read from its new files, never from
    the old frame."""
    monkeypatch.setattr(marts, "MART_ROOT", str(tmp_path / "marts"))
    path = marts._mart_path(sf_dir, "events", "memo_mart")
    assert _serve_values(spark, sf_dir, "memo_mart", [1, 2]).count() == 2
    if rebuild == "clear_marts":
        marts.clear_marts()
    else:
        shutil.rmtree(path)
        rows = list(enumerate([7, 8, 9]))
        write_clustered(spark.createDataFrame(rows, "id bigint, v bigint"), path, ["id"], n_files=2)
    df = _serve_values(spark, sf_dir, "memo_mart", [7, 8, 9])
    got = sorted(tuple(r) for r in df.filter("v > 0").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(path).filter("v > 0").collect())
    assert got == want
    assert [v for _, v in got] == [7, 8, 9]


def test_code_version_salts_mart_path(tmp_path, monkeypatch):
    """ADVICE r5: a build-logic change with unchanged source parquet
    must route to a NEW mart path (the old key was data-only, so a
    persistent MART_ROOT kept serving marts built by old code)."""
    src = tmp_path / "corpus"
    src.mkdir()
    (src / "events.parquet").write_bytes(b"stable-bytes")
    p1 = marts._mart_path(str(src), "events", "sleep_summary")
    monkeypatch.setattr(marts, "_CODE_VERSION", "deadbeef0000")
    p2 = marts._mart_path(str(src), "events", "sleep_summary")
    assert p1 != p2
    # and the salt is deterministic per process: recompute -> same path
    monkeypatch.setattr(marts, "_CODE_VERSION", None)
    assert marts._mart_path(str(src), "events", "sleep_summary") == p1
