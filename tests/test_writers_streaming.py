"""Writer semantics (S5, S7, S10, S11), streaming, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.operators.multimodal import (
    ASSET_SCHEMA,
    StubCodec,
    extract_features,
    sample_frames,
)
from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs
from sleep_edf_data_pipeline_spark.streaming.sessions import (
    streaming_hourly_counts,
    streaming_sessions,
)
from sleep_edf_data_pipeline_spark.writers.atomic import (
    append_error,
    read_epochs,
    recent_errors,
    write_epochs,
)


@pytest.fixture(scope="module")
def epochs(spark):
    return seed_epochs(spark, n_subjects=3).cache()


def test_partitioned_write_then_read(spark, epochs, tmp_path):
    path = str(tmp_path / "epochs")
    write_epochs(epochs, path)
    back = read_epochs(spark, path)
    assert back.count() == epochs.count()
    assert {r["subject_id"] for r in back.select("subject_id").distinct().collect()} == {0, 1, 2}


def test_per_subject_overwrite_is_surgical(spark, epochs, tmp_path):
    """Re-ingesting subject 1 must replace ONLY subject 1 (S7)."""
    path = str(tmp_path / "epochs")
    write_epochs(epochs, path)
    before_s0 = read_epochs(spark, path).filter("subject_id = 0").count()

    replacement = (
        epochs.filter("subject_id = 1")
        .limit(10)
        .withColumn("stage", F.lit("W"))
    )
    write_epochs(replacement, path, overwrite=True)

    after = read_epochs(spark, path)
    assert after.filter("subject_id = 0").count() == before_s0  # untouched
    assert after.filter("subject_id = 1").count() == 10  # replaced
    assert after.filter("subject_id = 2").count() > 0


def test_overwrite_leaves_session_conf_alone(epochs, tmp_path, monkeypatch):
    """The dynamic overwrite is a per-write option: flipping the
    session-wide partitionOverwriteMode would race concurrent loads."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        calls.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    write_epochs(epochs, str(tmp_path / "epochs"), overwrite=True)
    assert calls == []


def test_append_mode_accumulates(spark, epochs, tmp_path):
    path = str(tmp_path / "epochs")
    one = epochs.filter("subject_id = 0")
    write_epochs(one, path)
    write_epochs(one, path, overwrite=False)
    assert read_epochs(spark, path).count() == one.count() * 2


def test_error_log_append_and_recent(spark, tmp_path):
    path = str(tmp_path / "errors")
    try:
        raise ValueError("schema violation: NaN in delta_power")
    except ValueError as e:
        append_error(spark, path, subject_id=7, error=e)
    append_error(spark, path, subject_id=None, error="download failed", error_type="IOError")

    errs = recent_errors(spark, path).collect()
    assert len(errs) == 2
    by_type = {r["error_type"] for r in errs}
    assert by_type == {"ValueError", "IOError"}
    val = [r for r in errs if r["error_type"] == "ValueError"][0]
    assert "NaN in delta_power" in val["error_message"]
    assert "ValueError" in (val["stack_trace"] or "")
    assert val["error_id"] is not None and val["occurred_at"] is not None


def test_streaming_sessions_available_now(spark, tmp_path):
    """Real incremental execution: file stream → session window → memory."""
    src = str(tmp_path / "stream_src")
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (1, "2024-01-01 10:10:00", 2.0),
            (1, "2024-01-01 11:30:00", 3.0),  # > 30 min gap → new session
            (2, "2024-01-01 10:05:00", 4.0),
        ],
        "user_id int, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = streaming_sessions(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions_test ORDER BY user_id, session_start").collect()
    assert len(rows) == 3
    u1 = [r for r in rows if r["user_id"] == 1]
    assert u1[0]["n_events"] == 2 and u1[1]["n_events"] == 1
    assert u1[0]["total_value"] == pytest.approx(3.0)


def test_streaming_hourly_counts(spark, tmp_path):
    src = str(tmp_path / "stream_src2")
    events = spark.createDataFrame(
        [
            ("2024-01-01 10:05:00", "click"),
            ("2024-01-01 10:55:00", "click"),
            ("2024-01-01 11:05:00", "view"),
        ],
        "ts_s string, event_type string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        streaming_hourly_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hourly_test ORDER BY hour_start").collect()
    assert [(r["event_type"], r["n_events"]) for r in rows] == [("click", 2), ("view", 1)]


def test_multimodal_feature_extraction(spark):
    payload_a = bytes(range(10))
    payload_b = bytes([100] * 2048)
    assets = spark.createDataFrame(
        [
            ("a1", "image", "fake/raw", bytearray(payload_a), 2, 5),
            ("a2", "video", "fake/raw", bytearray(payload_b), 32, 32),
        ],
        ASSET_SCHEMA,
    )
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert feats["a1"]["n_bytes"] == 10
    assert feats["a1"]["mean_intensity"] == pytest.approx(np.mean(range(10)))
    assert feats["a2"]["mean_intensity"] == pytest.approx(100.0)
    assert feats["a1"]["feature_hash"] != feats["a2"]["feature_hash"]

    frames = sample_frames(assets.filter("asset_id = 'a2'"), every_n=1).collect()
    assert len(frames) == 2  # 2048 bytes → 2 pseudo-frames

    # png/bmp now decode for real (operators/codecs.py); only formats
    # with no registered codec still raise
    with pytest.raises(NotImplementedError):
        StubCodec.decode("jpeg", b"\xff\xd8\xff")


def test_streaming_episodes_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState: open episode carried across micro-batches.

    File 1 holds the start of user 1's first episode; file 2 (a later
    micro-batch via maxFilesPerTrigger=1) delivers a >30-min gap that
    must close it using state from batch 1 — plus user 2's episode
    closed within a single batch.
    """
    import os as _os
    import time as _time

    src = str(tmp_path / "stateful_src")
    _os.makedirs(src)

    def write_file(name, rows, mtime):
        spark.createDataFrame(
            rows, "user_id bigint, ts_s string, value double"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)
        # pin distinct mtimes so the file stream orders batches 1 → 2
        for f in _os.listdir(src):
            p = _os.path.join(src, f)
            if f.endswith(".parquet") and _os.path.getmtime(p) > mtime:
                _os.utime(p, (mtime, mtime))

    t0 = _time.time() - 1000
    write_file("b1", [(1, "2024-01-01 10:00:00", 1.0), (1, "2024-01-01 10:10:00", 2.0)], t0)
    write_file(
        "b2",
        [
            (1, "2024-01-01 11:00:00", 3.0),  # 50-min gap → closes episode 1
            (1, "2024-01-01 11:05:00", 4.0),
            (2, "2024-01-01 09:00:00", 5.0),
            (2, "2024-01-01 10:00:00", 6.0),  # 60-min gap → closes user 2's first
        ],
        t0 + 10,
    )

    from sleep_edf_data_pipeline_spark.streaming.stateful import streaming_episodes

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        streaming_episodes(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("episodes_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM episodes_test ORDER BY user_id, episode_start"
    ).collect()
    # user 1: episode [10:00, 10:10] closed by the batch-2 gap (state
    # crossed the batch boundary); user 2: [09:00, 09:00] closed in-batch.
    # Open episodes (user 1's second, user 2's second) are not emitted.
    assert [(r["user_id"], str(r["episode_start"]), str(r["episode_end"]), r["n_events"], r["total_value"]) for r in rows] == [
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2, 3.0),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:00:00", 1, 5.0),
    ]


def test_stream_stream_attribution_join(spark, tmp_path):
    """Stream-stream interval join: purchases attributed to the click
    within 1h before, state bounded by watermark + range condition."""
    from sleep_edf_data_pipeline_spark.streaming.joins import streaming_attribution

    schema = "event_id int, ts_s string, user_id int, value double"
    clicks = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, 0.0),
            (2, "2024-01-01 12:00:00", 1, 0.0),  # no purchase within 1h
            (3, "2024-01-01 10:05:00", 2, 0.0),
        ],
        schema,
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value")
    purchases = spark.createDataFrame(
        [
            (10, "2024-01-01 10:30:00", 1, 9.99),  # ← click 1
            (11, "2024-01-01 14:00:00", 1, 5.00),  # no click within 1h before
            (12, "2024-01-01 10:06:00", 2, 1.25),  # ← click 3
        ],
        schema,
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value")

    c_src, p_src = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(c_src)
    purchases.write.parquet(p_src)

    out = streaming_attribution(
        spark.readStream.schema(clicks.schema).parquet(c_src),
        spark.readStream.schema(purchases.schema).parquet(p_src),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attribution_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attribution_test").collect()
    }
    assert rows == {(1, 10), (3, 12)}


def test_foreach_batch_upsert_last_write_wins(spark, tmp_path):
    """foreachBatch incremental upsert: a later batch's row replaces the
    earlier row with the same key; distinct keys accumulate."""
    import time

    from sleep_edf_data_pipeline_spark.writers.atomic import foreach_batch_upsert
    from sleep_edf_data_pipeline_spark.writers.versioned import read_versioned

    src = tmp_path / "upsert_src"
    src.mkdir()
    tgt = str(tmp_path / "upsert_tgt")
    schema = "k int, v string"
    spark.createDataFrame([(1, "old"), (2, "keep")], schema).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    spark.createDataFrame([(1, "new"), (3, "add")], schema).coalesce(1).write.parquet(
        str(src / "b2.parquet")
    )

    q = (
        spark.readStream.schema("k int, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
        .writeStream.foreachBatch(foreach_batch_upsert(tgt, ["k"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = {r["k"]: r["v"] for r in read_versioned(spark, tgt).collect()}
    assert final == {1: "new", 2: "keep", 3: "add"}


def test_foreach_batch_upsert_crash_keeps_last_batch(spark, tmp_path, monkeypatch):
    """A batch that dies before its commit leaves the previous batch's
    rows readable: the table is never removed ahead of the swap."""
    import os

    from sleep_edf_data_pipeline_spark.writers.atomic import foreach_batch_upsert
    from sleep_edf_data_pipeline_spark.writers.versioned import read_versioned

    tgt = str(tmp_path / "upsert_tgt")
    upsert = foreach_batch_upsert(tgt, ["k"])
    schema = "k int, v string"
    upsert(spark.createDataFrame([(1, "old"), (2, "keep")], schema), 0)

    def crash(*_args, **_kwargs):
        raise OSError("simulated crash at the commit point")

    monkeypatch.setattr(os, "rename", crash)
    monkeypatch.setattr(os, "link", crash)
    with pytest.raises(OSError, match="simulated crash"):
        upsert(spark.createDataFrame([(1, "new"), (3, "add")], schema), 1)
    monkeypatch.undo()

    final = {r["k"]: r["v"] for r in read_versioned(spark, tgt).collect()}
    assert final == {1: "old", 2: "keep"}


def test_failed_overwrite_leaves_table_intact_then_retry(spark, epochs, tmp_path):
    """Crash-safety of the per-subject overwrite (reference
    tests/test_warehouse.py:107-151 rollback semantics).

    A job that fails mid-computation must leave every partition —
    including the one being replaced — exactly as it was (Spark stages
    dynamic-overwrite output under _temporary and only swaps partition
    dirs at job commit).  A clean retry then succeeds surgically.
    """
    path = str(tmp_path / "epochs")
    write_epochs(epochs, path)
    before = {
        r["subject_id"]: r["n"]
        for r in read_epochs(spark, path)
        .groupBy("subject_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    s1_stages_before = sorted(
        r["stage"]
        for r in read_epochs(spark, path).filter("subject_id = 1").collect()
    )

    @F.udf("int")
    def boom(i):
        raise ValueError("synthetic mid-job failure")

    bad = epochs.filter("subject_id = 1").withColumn("epoch_idx", boom("epoch_idx"))
    with pytest.raises(Exception, match="synthetic mid-job failure|Job aborted"):
        write_epochs(bad, path, overwrite=True)

    after = {
        r["subject_id"]: r["n"]
        for r in read_epochs(spark, path)
        .groupBy("subject_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert after == before, "failed overwrite must not change any partition"
    s1_stages_after = sorted(
        r["stage"]
        for r in read_epochs(spark, path).filter("subject_id = 1").collect()
    )
    assert s1_stages_after == s1_stages_before

    # retry with a good frame: replaces subject 1 only
    replacement = epochs.filter("subject_id = 1").limit(5)
    write_epochs(replacement, path, overwrite=True)
    final = read_epochs(spark, path)
    assert final.filter("subject_id = 1").count() == 5
    assert final.filter("subject_id = 0").count() == before[0]
    assert final.filter("subject_id = 2").count() == before[2]


def test_streaming_sessions_match_batch_query(spark, tmp_path):
    """Batch/stream equivalence: the driver-green batch session query is
    the oracle for the streaming path.

    Same events, same 30-minute gap: q_session_window_agg (batch,
    hash-verified vs DuckDB) and streaming_sessions (incremental,
    stateful) must produce identical sessions.
    """
    from sleep_edf_data_pipeline_spark.queries.event_windows import (
        q_session_window_agg,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = sorted(
        q_session_window_agg(spark, sf_dir).collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )

    # File streams need a directory source; re-stage the events table
    # with the ts normalization tables.table applies, as TIMESTAMP
    # (watermarks reject NTZ; the session runs UTC so the
    # ntz→timestamp→ntz round-trip is value-preserving).
    from sleep_edf_data_pipeline_spark.tables import table as load_table

    src = str(tmp_path / "events_stream_src")
    staged = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    staged.write.parquet(src)
    stream = spark.readStream.schema(staged.schema).parquet(src)
    q = (
        streaming_sessions(stream, gap="30 minutes")
        .withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
        .writeStream.format("memory")
        .queryName("sessions_equiv")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = sorted(
        spark.sql("SELECT * FROM sessions_equiv").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert len(streamed) == len(batch) > 0
    for b, s in zip(batch, streamed):
        assert b["user_id"] == s["user_id"]
        assert b["session_start"] == s["session_start"]
        assert b["session_end"] == s["session_end"]
        assert b["n_events"] == s["n_events"]
        assert b["total_value"] == s["total_value"]


def test_jsonl_export_shards_and_roundtrips(spark, tmp_path):
    """Corpus export: bounded-size JSONL shards, schema-pinned re-read."""
    import glob

    from sleep_edf_data_pipeline_spark.tables import table
    from sleep_edf_data_pipeline_spark.writers.corpus_export import (
        export_jsonl_shards,
        read_jsonl,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    path = str(tmp_path / "corpus_jsonl")
    export_jsonl_shards(docs.repartition(2), path, max_records_per_file=20)

    shards = glob.glob(f"{path}/part-*")
    assert len(shards) >= n // 20, f"expected bounded shards, got {len(shards)}"
    with open(shards[0]) as f:
        lines = f.readlines()
    assert 0 < len(lines) <= 20  # per-shard record bound holds

    back = read_jsonl(spark, path, docs.schema)
    assert back.count() == n
    a = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    assert a == b


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming dropDuplicates must keep exactly one row per content
    hash — the batch distinct count is the oracle."""
    from sleep_edf_data_pipeline_spark.streaming.dedup import (
        streaming_exact_dedup,
        with_content_hash,
    )
    from sleep_edf_data_pipeline_spark.tables import table

    src = str(tmp_path / "docs_stream_src")
    docs = table(spark, "/root/testdata/sf0.001", "documents")
    # duplicate the corpus so the stream really has dups to drop
    docs.unionByName(docs).write.parquet(src)

    n_distinct = with_content_hash(docs).select("content_hash").distinct().count()

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT content_hash) AS d FROM dedup_stream").collect()[0]
    assert got["n"] == got["d"] == n_distinct


def test_streaming_dedup_within_watermark_runs(spark, tmp_path):
    """Watermarked dedup: state-evicting variant executes end-to-end and
    suppresses in-horizon duplicates."""
    from pyspark.sql import functions as SF

    from sleep_edf_data_pipeline_spark.streaming.dedup import (
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "wm_stream_src")
    rows = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "alpha"),
            ("2024-01-01 10:05:00", "alpha"),  # dup inside horizon
            ("2024-01-01 10:10:00", "beta"),
        ],
        "ts_s string, text string",
    ).select(SF.col("ts_s").cast("timestamp").alias("ts"), "text")
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    q = (
        streaming_dedup_within_watermark(stream, "ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wm_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    texts = sorted(
        r["text"] for r in spark.sql("SELECT text FROM wm_dedup_stream").collect()
    )
    assert texts == ["alpha", "beta"]


def test_streaming_episode_parity_full_seeded_corpus(spark, tmp_path):
    """Replay the whole seeded nap+night corpus through the stateful
    episode operator and match the batch islands chain exactly.

    Batch: R7-R9 (double-row_number runs → ≥120-epoch wake-run breaks →
    running-sum episode ids) over every seeded subject, keeping episodes
    with sleep.  Stream: sleep epochs as timestamped events through
    applyInPandasWithState with gap = 121 epochs × 30 s = 3630 s — the
    exact translation of "wake run ≥ 120 epochs" into a time gap (break
    when Δidx ≥ 121).  A far-future sentinel per subject closes each
    final open episode so append mode emits everything; sentinel
    episodes are dropped before comparing.  The nap in the seed grammar
    is the adversarial case: it must form its own episode in BOTH paths.
    """
    from sleep_edf_data_pipeline_spark.operators.islands import (
        with_episode_breaks,
        with_episode_ids,
        with_run_keys,
    )
    from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs
    from sleep_edf_data_pipeline_spark.streaming.stateful import (
        streaming_episodes,
    )

    epochs = seed_epochs(spark, n_subjects=3).select(
        "subject_id",
        "epoch_idx",
        F.when(F.col("stage") == "W", 0).otherwise(1).alias("is_sleep"),
    )

    # --- batch side: all sleep episodes' (onset, final) bounds
    chain = with_run_keys(epochs, "is_sleep", ["subject_id"], ["epoch_idx"])
    chain = with_episode_breaks(chain, gap_epochs=120, partition_by=["subject_id"])
    chain = with_episode_ids(chain, ["subject_id"], ["epoch_idx"])
    in_sleep = F.when(F.col("is_sleep") == 1, F.col("epoch_idx"))
    batch = (
        chain.groupBy("subject_id", "episode_id")
        .agg(
            F.min(in_sleep).alias("onset"),
            F.max(in_sleep).alias("final"),
            F.sum("is_sleep").alias("n_sleep"),
        )
        .filter(F.col("n_sleep") > 0)
    )
    batch_set = {
        (r["subject_id"], r["onset"], r["final"], r["n_sleep"])
        for r in batch.collect()
    }
    assert len(batch_set) >= 4, "seed grammar should yield nap + night episodes"

    # --- stream side: sleep epochs as events, plus a sentinel per subject
    sentinel_idx = 10_000_000
    events = epochs.filter(F.col("is_sleep") == 1).select(
        F.col("subject_id").cast("bigint").alias("user_id"),
        F.timestamp_seconds(F.col("epoch_idx").cast("bigint") * 30).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    sentinels = (
        epochs.select("subject_id")
        .distinct()
        .select(
            F.col("subject_id").cast("bigint").alias("user_id"),
            F.timestamp_seconds(F.lit(sentinel_idx) * 30).alias("ts"),
            F.lit(1.0).alias("value"),
        )
    )
    src = str(tmp_path / "corpus_events")
    events.unionByName(sentinels).write.parquet(src)

    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, value double"
    ).parquet(src)
    q = (
        streaming_episodes(stream, gap="3630 seconds")
        .writeStream.format("memory")
        .queryName("corpus_episode_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM corpus_episode_parity").collect()
    stream_set = {
        (
            r["user_id"],
            int(r["episode_start"].timestamp()) // 30,
            int(r["episode_end"].timestamp()) // 30,
            r["n_events"],
        )
        for r in out
    }
    assert batch_set == stream_set


def test_streaming_lsh_admission_matches_batch_bands(spark, tmp_path):
    """Stream odd docs against the even-docs band index: the admitted
    set must equal the batch-computed no-band-collision set, and the
    per-row HOF signer must produce the batch signer's exact bands."""
    from sleep_edf_data_pipeline_spark.operators.dedup import with_minhash
    from sleep_edf_data_pipeline_spark.streaming.dedup import (
        rowwise_minhash_bands,
        streaming_lsh_admission,
    )
    from sleep_edf_data_pipeline_spark.tables import table

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents").select("doc_id", "text")
    index_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 2 == 1)

    index_signed = with_minhash(index_docs, "doc_id", "text", k=16, shingle_n=1)

    # batch expectation: band keys from the BATCH signer on both sides
    def band_keys(signed):
        return signed.select(
            "doc_id",
            *[
                F.xxhash64(
                    *[F.element_at("sig", b * 4 + r + 1) for r in range(4)]
                ).alias(f"band_{b}")
                for b in range(4)
            ],
        )

    idx_b = band_keys(index_signed)
    bat_b = band_keys(with_minhash(batch_docs, "doc_id", "text", k=16, shingle_n=1))
    rejected_expected = set()
    for b in range(4):
        rejected_expected |= {
            r["doc_id"]
            for r in bat_b.join(
                idx_b.select(F.col(f"band_{b}")).distinct(), f"band_{b}"
            )
            .select("doc_id")
            .collect()
        }
    admitted_expected = {
        r["doc_id"] for r in batch_docs.select("doc_id").collect()
    } - rejected_expected

    # per-row signer must reproduce the batch band keys exactly
    row_b = rowwise_minhash_bands(batch_docs, "text").select(
        "doc_id", *[f"band_{b}" for b in range(4)]
    )
    assert {tuple(r) for r in row_b.collect()} == {
        tuple(r) for r in bat_b.collect()
    }

    src = str(tmp_path / "admission_src")
    batch_docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        streaming_lsh_admission(stream, index_signed)
        .select("doc_id", "admitted")
        .writeStream.format("memory")
        .queryName("lsh_admission")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM lsh_admission").collect()
    assert len(rows) == batch_docs.count()
    assert {r["doc_id"] for r in rows if r["admitted"]} == admitted_expected


def test_streaming_ohlc_matches_batch(spark, tmp_path, sf_dir):
    """streaming_ohlc_bars over a file stream of the events table must
    emit exactly the batch ohlc_bars rows (min_by/max_by on the
    (ts, event_id) struct ≡ forward/reverse row_number)."""
    from sleep_edf_data_pipeline_spark.queries.timeseries_extra import q_ohlc_bars
    from sleep_edf_data_pipeline_spark.streaming.sessions import streaming_ohlc_bars
    from sleep_edf_data_pipeline_spark.tables import table

    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_id",
        "event_type", "value",
    )
    src = str(tmp_path / "ohlc_src")
    ev.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "2").parquet(src)
    q = (
        streaming_ohlc_bars(stream)
        .writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), q.exception()
    got = {
        (r["event_type"], r["bar_hour"]): (
            r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["volume"]
        )
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    want = {
        (r["event_type"], r["bar_hour"]): (
            r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["volume"]
        )
        for r in q_ohlc_bars(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_cms_merge_is_exact_over_split_data(spark):
    """Folding per-split sketches must be bit-identical to one sketch
    over the full data (CMS merge is integer addition) — the property
    the streaming accumulator rests on."""
    from sleep_edf_data_pipeline_spark.functions.cms import (
        merge_sketch_bytes,
    )
    from sleep_edf_data_pipeline_spark.queries.heavy_hitters import (
        CMS_CONFIDENCE,
        CMS_EPS,
        CMS_SEED,
    )

    def sketch_of(df):
        return bytes(
            df.agg(
                F.count_min_sketch(
                    "k", F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE), F.lit(CMS_SEED)
                ).alias("s")
            ).collect()[0]["s"]
        )

    full = spark.range(0, 20000).select((F.col("id") % 313).alias("k"))
    parts = [
        full.filter(F.col("id") % 3 == i) for i in range(3)
    ]
    merged = merge_sketch_bytes(*[sketch_of(p) for p in parts])
    assert merged == sketch_of(full)


def test_streaming_heavy_hitters_matches_batch_exact(spark, tmp_path):
    """Batch/stream equivalence: replay the events table in multiple
    micro-batches through the foreachBatch CMS accumulator; the final
    top-k must equal the oracle-checked batch exact twin on both keys
    AND counts (at sf0.001 the key space is far below the sketch's
    collision floor, so estimates are exact)."""
    from sleep_edf_data_pipeline_spark.queries.heavy_hitters import (
        TOPK,
        q_heavy_hitters_exact,
    )
    from sleep_edf_data_pipeline_spark.streaming.heavy_hitters import (
        StreamingHeavyHitters,
    )
    from sleep_edf_data_pipeline_spark.tables import table as load_table

    sf_dir = "/root/testdata/sf0.001"
    exact = [
        (r["user_id"], r["n_events"])
        for r in q_heavy_hitters_exact(spark, sf_dir).collect()
    ]

    src = str(tmp_path / "events_hh_src")
    # several files so maxFilesPerTrigger yields several micro-batches
    load_table(spark, sf_dir, "events").select("user_id").repartition(
        5
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    acc = StreamingHeavyHitters(key_col="user_id")
    q = (
        stream.writeStream.foreachBatch(acc.process_batch)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.lastProgress is not None
    got = acc.topk(TOPK)
    assert got == exact
    # bounded state: candidate pool respects its cap
    assert len(acc.candidates) <= acc.max_candidates
