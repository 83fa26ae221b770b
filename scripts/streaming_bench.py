"""Streaming throughput bench: drain sf0.1 through each streaming op.

The repo benchmark (perfbench/) covers the ELT and corpus paths; this
measures the Structured Streaming operators' sustained throughput —
rows drained per second across multiple micro-batches (file source,
``maxFilesPerTrigger`` forces real batch boundaries so state actually
crosses them), full availableNow drain to a memory sink.

Usage: python scripts/streaming_bench.py [out.json]
Writes STREAMING_BENCH.json {query: {wall_s, rows_in, rows_out,
rows_per_sec, micro_batches}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.operators.dedup import with_minhash
from sleep_edf_data_pipeline_spark.session import get_spark
from sleep_edf_data_pipeline_spark.streaming.dedup import (
    streaming_exact_dedup,
    streaming_lsh_admission,
)
from sleep_edf_data_pipeline_spark.streaming.sessions import (
    streaming_hourly_counts,
    streaming_ohlc_bars,
    streaming_sessions,
)
from sleep_edf_data_pipeline_spark.streaming.stateful import streaming_episodes
from sleep_edf_data_pipeline_spark.tables import table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGE = "/tmp/stream_bench_src"
N_FILES = 20
FILES_PER_TRIGGER = 4


def stage(spark) -> dict[str, int]:
    """Re-stage sf0.1 into N_FILES-file directories (file-stream input)."""
    shutil.rmtree(STAGE, ignore_errors=True)
    events = (
        table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),  # NTZ → TZ for watermarks
            "user_id",
            "event_type",
            "value",
        )
    )
    events.repartition(N_FILES).write.parquet(f"{STAGE}/events")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 1).repartition(N_FILES).write.parquet(
        f"{STAGE}/docs_batch"
    )
    emb = table(spark, SF_DIR, "embeddings")
    emb.repartition(N_FILES).write.parquet(f"{STAGE}/embeddings")
    return {
        "events": events.count(),
        "docs_batch": docs.filter(F.col("doc_id") % 2 == 1).count(),
        "embeddings": emb.count(),
    }


def drain(spark, name: str, out_df) -> dict:
    t0 = time.perf_counter()
    q = (
        out_df.writeStream.format("memory")
        .queryName(f"bench_{name}")
        .outputMode("append")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", f"{STAGE}/_ckpt_{name}"
        )
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(
            f"streaming query did not finish cleanly "
            f"(finished={finished}, exception={exc})"
        )
    wall = time.perf_counter() - t0
    batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    rows_out = spark.sql(f"SELECT count(*) FROM bench_{name}").collect()[0][0]
    return {"wall_s": round(wall, 3), "rows_out": rows_out, "micro_batches": batches}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "STREAMING_BENCH.json"
    spark = get_spark(app_name="streaming-bench")
    counts = stage(spark)

    def ev_stream():
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double"
            )
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(f"{STAGE}/events")
        )

    def doc_stream():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(f"{STAGE}/docs_batch")
        )

    index_signed = with_minhash(
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 2 == 0),
        "doc_id",
        "text",
        k=16,
        shingle_n=1,
    )

    def emb_stream():
        return (
            spark.readStream.schema("vec_id bigint, embedding array<float>, label string")
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(f"{STAGE}/embeddings")
        )

    # Compression layer on a stream: PQ-encode against pre-trained
    # (write-once) codebooks — a pure projection, zero state.
    from sleep_edf_data_pipeline_spark.operators.quantization import (
        pq_encode,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(
        table(spark, SF_DIR, "embeddings"), dim=64, m=4, k=16, iters=2
    )

    runs = {
        "streaming_sessions": lambda: streaming_sessions(ev_stream()),
        "streaming_hourly_counts": lambda: streaming_hourly_counts(ev_stream()),
        "streaming_episodes": lambda: streaming_episodes(
            ev_stream().select("user_id", "ts", "value"), gap="30 minutes"
        ),
        "streaming_ohlc_bars": lambda: streaming_ohlc_bars(
            ev_stream().select(
                F.col("ts").cast("timestamp").alias("ts"),
                "event_id", "event_type", "value",
            )
        ),
        "streaming_exact_dedup": lambda: streaming_exact_dedup(doc_stream()),
        "streaming_lsh_admission": lambda: streaming_lsh_admission(
            doc_stream(), index_signed
        ),
        "streaming_pq_encode": lambda: pq_encode(emb_stream(), books).select(
            "vec_id", "code_0", "code_1", "code_2", "code_3"
        ),
    }
    results = {}
    for name, build in runs.items():
        if "pq_encode" in name:
            rows_in = counts["embeddings"]
        elif (
            name.startswith("streaming_s")
            or "hourly" in name
            or "episodes" in name
            or "ohlc" in name
        ):
            rows_in = counts["events"]
        else:
            rows_in = counts["docs_batch"]
        r = drain(spark, name, build())
        r["rows_in"] = rows_in
        r["rows_per_sec"] = round(rows_in / r["wall_s"]) if r["wall_s"] else None
        results[name] = r
        print(f"# {name}: {r}", file=sys.stderr)
    # The custom two-phase-commit sink: drain the doc stream into
    # format("jsonlshards") and account rows from the batch manifests.
    from sleep_edf_data_pipeline_spark.writers.jsonl_datasource import (
        JsonlShardsDataSource,
    )

    spark.dataSource.register(JsonlShardsDataSource)
    sink_out = f"{STAGE}/jsonl_sink_out"
    t0 = time.perf_counter()
    q = (
        doc_stream()
        .writeStream.format("jsonlshards")
        .option("path", sink_out)
        .option("checkpointLocation", f"{STAGE}/_ckpt_jsonl_sink")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(
            f"streaming query did not finish cleanly "
            f"(finished={finished}, exception={exc})"
        )
    wall = time.perf_counter() - t0
    rows_out = 0
    for b in os.listdir(sink_out):
        if b.startswith("batch="):
            with open(os.path.join(sink_out, b, "_MANIFEST.json")) as f:
                rows_out += json.load(f)["total_rows"]
    results["jsonlshards_sink"] = {
        "wall_s": round(wall, 3),
        "rows_out": rows_out,
        "rows_in": counts["docs_batch"],
        "rows_per_sec": round(counts["docs_batch"] / wall) if wall else None,
        "micro_batches": len([p for p in q.recentProgress if p["numInputRows"] > 0]),
    }
    print(f"# jsonlshards_sink: {results['jsonlshards_sink']}", file=sys.stderr)

    # And back out: stream the committed batch=<id>/ tree through the
    # custom DataSourceStreamReader into a parquet sink.
    t0 = time.perf_counter()
    q = (
        spark.readStream.format("jsonlshards")
        .load(sink_out)
        .writeStream.format("parquet")
        .option("checkpointLocation", f"{STAGE}/_ckpt_jsonl_read")
        .trigger(availableNow=True)
        .start(f"{STAGE}/jsonl_readback")
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(
            f"streaming read-back did not finish cleanly "
            f"(finished={finished}, exception={exc})"
        )
    wall = time.perf_counter() - t0
    readback = spark.read.parquet(f"{STAGE}/jsonl_readback").count()
    if readback != rows_out:
        raise RuntimeError(
            f"read-back row count {readback} != sink manifest total {rows_out}"
        )
    results["jsonlshards_readback"] = {
        "wall_s": round(wall, 3),
        "rows_in": rows_out,
        "rows_per_sec": round(rows_out / wall) if wall else None,
    }
    print(
        f"# jsonlshards_readback: {results['jsonlshards_readback']}",
        file=sys.stderr,
    )

    # Streaming heavy hitters: foreachBatch CMS accumulator (r6) — the
    # fold is bit-identical to one batch sketch, so the streamed top-20
    # keys can be sanity-checked against the batch exact twin's keys
    # (uniform corpus: assert overlap with the near-top band, not rank).
    from sleep_edf_data_pipeline_spark.queries.heavy_hitters import (
        TOPK,
        q_heavy_hitters_exact,
    )
    from sleep_edf_data_pipeline_spark.streaming.heavy_hitters import (
        StreamingHeavyHitters,
    )

    acc = StreamingHeavyHitters(key_col="user_id")
    t0 = time.perf_counter()
    q = (
        ev_stream()
        .select("user_id")
        .writeStream.foreachBatch(acc.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_hh")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming heavy hitters failed: {exc}")
    wall = time.perf_counter() - t0
    top = acc.topk(TOPK)
    exact_counts = {
        r["user_id"]: r["n_events"]
        for r in q_heavy_hitters_exact(spark, SF_DIR).collect()
    }
    floor_exact = min(exact_counts.values())
    results["streaming_heavy_hitters"] = {
        "wall_s": round(wall, 3),
        "rows_in": counts["events"],
        "rows_per_sec": round(counts["events"] / wall) if wall else None,
        "micro_batches": len(
            [p for p in q.recentProgress if p["numInputRows"] > 0]
        ),
        "topk_min_est": top[-1][1] if top else None,
        "exact_topk_floor": floor_exact,
        "n_keys_returned": len(top),
    }
    print(
        f"# streaming_heavy_hitters: {results['streaming_heavy_hitters']}",
        file=sys.stderr,
    )

    # Streaming drift monitor (r6): score each micro-batch's length
    # histogram against the accumulated reference BEFORE folding it in.
    # The fold is algebraic, so the final reference must equal the
    # one-shot batch histogram exactly — checked, not assumed.
    from sleep_edf_data_pipeline_spark.queries.drift_stats import psi_between
    from sleep_edf_data_pipeline_spark.streaming.drift import (
        StreamingDriftMonitor,
        length_hist,
    )

    docs_full = table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    docs_full.repartition(N_FILES).write.parquet(f"{STAGE}/docs_full")
    n_docs = docs_full.count()
    mon = StreamingDriftMonitor(f"{STAGE}/drift_ref")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(docs_full.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_full")
        .writeStream.foreachBatch(mon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_drift")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming drift monitor failed: {exc}")
    wall = time.perf_counter() - t0
    got = sorted(map(tuple, mon.reference(spark).collect()))
    want = sorted(map(tuple, length_hist(docs_full).collect()))
    if got != want:
        raise RuntimeError("folded drift reference != batch histogram")
    results["streaming_drift_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs,
        "rows_per_sec": round(n_docs / wall) if wall else None,
        "micro_batches": len(mon.history),
        "alerts": sum(1 for _, _, a in mon.history if a),
        "max_batch_psi": max(
            (p for _, p, _ in mon.history if p is not None), default=None
        ),
        "reference_exact": True,
    }
    print(
        f"# streaming_drift_monitor: {results['streaming_drift_monitor']}",
        file=sys.stderr,
    )

    # Streaming CUSUM monitor (r6 session 4): fold each micro-batch's
    # (type, day) int128 partials, then answer the day-resolution
    # change point from the folded state.  Fold exactness checked.
    from sleep_edf_data_pipeline_spark.queries.drift_stats import (
        cusum_day_partials,
        quantize_events,
    )
    from sleep_edf_data_pipeline_spark.streaming.cusum import (
        StreamingCusumMonitor,
    )

    ev_full = table(spark, SF_DIR, "events")
    ev_full.repartition(N_FILES).write.parquet(f"{STAGE}/events_ntz")
    n_ev = ev_full.count()
    cmon = StreamingCusumMonitor(f"{STAGE}/cusum_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(ev_full.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/events_ntz")
        .writeStream.foreachBatch(cmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_cusum")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming cusum monitor failed: {exc}")
    # Time ONLY the stream drain (consistent with every other entry);
    # the post-drain change-point query is reported as its own field.
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    cps = cmon.changepoint(spark).collect()
    changepoint_s = time.perf_counter() - t1
    got = sorted(map(tuple, cmon.partials(spark).collect()))
    want = sorted(
        map(tuple, cusum_day_partials(quantize_events(ev_full)).collect())
    )
    if got != want:
        raise RuntimeError("folded cusum partials != batch partials")
    results["streaming_cusum_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_ev,
        "rows_per_sec": round(n_ev / wall) if wall else None,
        "micro_batches": (cmon.last_batch_id or 0) + 1,
        "changepoint_query_s": round(changepoint_s, 3),
        "types_with_changepoint": len(cps),
        "partials_exact": True,
    }
    print(
        f"# streaming_cusum_monitor: {results['streaming_cusum_monitor']}",
        file=sys.stderr,
    )

    # Streaming KS monitor (r7): fold each micro-batch's two-source
    # (len, ca, cb) histogram partial, then answer the exact KS
    # statistic from the folded state.  Fold exactness checked against
    # the batch query (same shared tail).
    from sleep_edf_data_pipeline_spark.queries.drift_stats import (
        q_ks_two_sample,
    )
    from sleep_edf_data_pipeline_spark.streaming.ks import StreamingKSMonitor

    docs_src = table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    docs_src.repartition(N_FILES).write.parquet(f"{STAGE}/docs_src")
    kmon = StreamingKSMonitor(f"{STAGE}/ks_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(docs_src.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_src")
        .writeStream.foreachBatch(kmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_ks")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming ks monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_ks = sorted(map(tuple, kmon.ks(spark).collect()))
    ks_query_s = time.perf_counter() - t1
    want_ks = sorted(map(tuple, q_ks_two_sample(spark, SF_DIR).collect()))
    if got_ks != want_ks:
        raise RuntimeError("streaming KS from state != batch KS")
    results["streaming_ks_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs,
        "rows_per_sec": round(n_docs / wall) if wall else None,
        "micro_batches": (kmon.last_batch_id or 0) + 1,
        "ks_query_s": round(ks_query_s, 3),
        "ks_exact_vs_batch": True,
    }
    print(
        f"# streaming_ks_monitor: {results['streaming_ks_monitor']}",
        file=sys.stderr,
    )

    # Streaming embedding-drift monitor (r7): fold each micro-batch's
    # (label, dim) centroid grid, then answer per-label centroid
    # cosine from the folded state.  Fold exactness checked against
    # the batch query (same shared tail).
    from sleep_edf_data_pipeline_spark.queries.embedding_drift import (
        q_embedding_drift_by_label,
    )
    from sleep_edf_data_pipeline_spark.streaming.embedding_drift import (
        StreamingEmbeddingDriftMonitor,
    )

    emb_full = table(spark, SF_DIR, "embeddings")
    emb_full.repartition(N_FILES).write.parquet(f"{STAGE}/emb_full")
    n_emb = emb_full.count()
    emon = StreamingEmbeddingDriftMonitor(f"{STAGE}/emb_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(emb_full.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/emb_full")
        .writeStream.foreachBatch(emon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_emb")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming embedding drift monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_drift = sorted(map(tuple, emon.drift(spark).collect()))
    drift_query_s = time.perf_counter() - t1
    want_drift = sorted(
        map(tuple, q_embedding_drift_by_label(spark, SF_DIR).collect())
    )
    if got_drift != want_drift:
        raise RuntimeError("streaming embedding drift from state != batch")
    results["streaming_embedding_drift_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_emb,
        "rows_per_sec": round(n_emb / wall) if wall else None,
        "micro_batches": (emon.last_batch_id or 0) + 1,
        "drift_query_s": round(drift_query_s, 3),
        "drift_exact_vs_batch": True,
    }
    print(
        "# streaming_embedding_drift_monitor: "
        f"{results['streaming_embedding_drift_monitor']}",
        file=sys.stderr,
    )

    # Streaming tokenizer monitor (r7): fold each micro-batch's
    # (source, tok) vocabulary grid, then answer train+apply (merge
    # table + encode stats) from the folded state.  Exactness checked
    # against the batch query (same shared tail).
    from sleep_edf_data_pipeline_spark.queries.tokenizer_apply import (
        q_bpe_encode_stats,
    )
    from sleep_edf_data_pipeline_spark.streaming.bpe import (
        StreamingVocabMonitor,
    )

    docs_txt = table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    docs_txt.repartition(N_FILES).write.parquet(f"{STAGE}/docs_txt")
    n_txt = docs_txt.count()
    vmon = StreamingVocabMonitor(f"{STAGE}/vocab_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(docs_txt.schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_txt")
        .writeStream.foreachBatch(vmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_vocab")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming vocab monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_enc = sorted(map(tuple, vmon.encode_stats(spark).collect()))
    enc_query_s = time.perf_counter() - t1
    want_enc = sorted(map(tuple, q_bpe_encode_stats(spark, SF_DIR).collect()))
    if got_enc != want_enc:
        raise RuntimeError("streaming encode stats from state != batch")
    results["streaming_vocab_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_txt,
        "rows_per_sec": round(n_txt / wall) if wall else None,
        "micro_batches": (vmon.last_batch_id or 0) + 1,
        "encode_query_s": round(enc_query_s, 3),
        "encode_exact_vs_batch": True,
    }
    print(
        f"# streaming_vocab_monitor: {results['streaming_vocab_monitor']}",
        file=sys.stderr,
    )

    # Streaming occupancy monitor (r8): fold each micro-batch of
    # CLOSED session rows into the netted (t, net) boundary-delta
    # grid, then answer hourly peak concurrency from the folded state.
    # Exactness checked against the batch query (same shared tail).
    from sleep_edf_data_pipeline_spark.queries.event_windows import (
        q_session_window_agg_bucketed,
    )
    from sleep_edf_data_pipeline_spark.queries.occupancy import (
        q_peak_concurrent_sessions,
    )
    from sleep_edf_data_pipeline_spark.streaming.occupancy import (
        StreamingOccupancyMonitor,
    )

    sess_full = q_session_window_agg_bucketed(spark, SF_DIR)
    sess_full.repartition(N_FILES).write.parquet(f"{STAGE}/sess_full")
    n_sess = spark.read.parquet(f"{STAGE}/sess_full").count()
    omon = StreamingOccupancyMonitor(f"{STAGE}/occ_state")
    sess_schema = spark.read.parquet(f"{STAGE}/sess_full").schema
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(sess_schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/sess_full")
        .writeStream.foreachBatch(omon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_occ")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming occupancy monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_peaks = sorted(map(tuple, omon.peaks(spark).collect()))
    peaks_query_s = time.perf_counter() - t1
    want_peaks = sorted(
        map(tuple, q_peak_concurrent_sessions(spark, SF_DIR).collect())
    )
    if got_peaks != want_peaks:
        raise RuntimeError("streaming occupancy peaks from state != batch")
    results["streaming_occupancy_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_sess,
        "rows_per_sec": round(n_sess / wall) if wall else None,
        "micro_batches": (omon.last_batch_id or 0) + 1,
        "peaks_query_s": round(peaks_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_occupancy_monitor: "
        f"{results['streaming_occupancy_monitor']}",
        file=sys.stderr,
    )

    # Streaming host-audit monitor (r9, VERDICT r8 item 5): fold each
    # micro-batch of crawl records into (host, canonical_url) state —
    # the exact-dedup state discipline makes countDistinct algebraic —
    # and answer the domain table from state through the batch query's
    # shared tail.  Exactness checked against the batch profile.
    from sleep_edf_data_pipeline_spark.queries.url_dedup import (
        _synth_raw_url,
        q_host_dedup_profile,
    )
    from sleep_edf_data_pipeline_spark.streaming.hosts import (
        StreamingHostAuditMonitor,
    )

    crawl_full = _synth_raw_url(
        table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    ).select("doc_id", "n_chars", "url")
    crawl_full.repartition(N_FILES).write.parquet(f"{STAGE}/crawl_full")
    n_crawl = spark.read.parquet(f"{STAGE}/crawl_full").count()
    hmon = StreamingHostAuditMonitor(f"{STAGE}/host_state")
    crawl_schema = spark.read.parquet(f"{STAGE}/crawl_full").schema
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(crawl_schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/crawl_full")
        .writeStream.foreachBatch(hmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_hosts")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming host monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_profile = sorted(map(tuple, hmon.profile(spark).collect()))
    profile_query_s = time.perf_counter() - t1
    want_profile = sorted(
        map(tuple, q_host_dedup_profile(spark, SF_DIR).collect())
    )
    if got_profile != want_profile:
        raise RuntimeError("streaming host profile from state != batch")
    results["streaming_host_audit_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_crawl,
        "rows_per_sec": round(n_crawl / wall) if wall else None,
        "micro_batches": (hmon.last_batch_id or 0) + 1,
        "profile_query_s": round(profile_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_host_audit_monitor: "
        f"{results['streaming_host_audit_monitor']}",
        file=sys.stderr,
    )

    # Streaming line-dedup monitor (r9): fold each micro-batch of
    # documents into the (line_hash, doc_id) retention grain (fully
    # algebraic, order-free) and answer the C4-style retention profile
    # from state via the batch query's shared tail.
    from sleep_edf_data_pipeline_spark.queries.line_dedup import (
        q_line_dedup_stats,
    )
    from sleep_edf_data_pipeline_spark.streaming.lines import (
        StreamingLineDedupMonitor,
    )

    docs_full = table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs_full.repartition(N_FILES).write.parquet(f"{STAGE}/docs_lines")
    n_docs_l = spark.read.parquet(f"{STAGE}/docs_lines").count()
    lmon = StreamingLineDedupMonitor(f"{STAGE}/line_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_lines")
        .writeStream.foreachBatch(lmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_lines")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming line-dedup monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_ret = sorted(map(tuple, lmon.retention(spark).collect()))
    ret_query_s = time.perf_counter() - t1
    want_ret = sorted(
        map(tuple, q_line_dedup_stats(spark, SF_DIR).collect())
    )
    if got_ret != want_ret:
        raise RuntimeError("streaming line retention from state != batch")
    results["streaming_line_dedup_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs_l,
        "rows_per_sec": round(n_docs_l / wall) if wall else None,
        "micro_batches": (lmon.last_batch_id or 0) + 1,
        "retention_query_s": round(ret_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_line_dedup_monitor: "
        f"{results['streaming_line_dedup_monitor']}",
        file=sys.stderr,
    )

    # --- streaming readability monitor: per-source micro-sum fold,
    # scores from state via the batch query's shared tail.
    from sleep_edf_data_pipeline_spark.queries.readability import (
        q_readability_scores,
    )
    from sleep_edf_data_pipeline_spark.streaming.readability import (
        StreamingReadabilityMonitor,
    )

    docs_read = table(spark, SF_DIR, "documents").select("source", "text")
    docs_read.repartition(N_FILES).write.parquet(f"{STAGE}/docs_read")
    n_docs_r = spark.read.parquet(f"{STAGE}/docs_read").count()
    rmon = StreamingReadabilityMonitor(f"{STAGE}/read_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("source string, text string")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_read")
        .writeStream.foreachBatch(rmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_read")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming readability monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_sc = sorted(map(tuple, rmon.scores(spark).collect()))
    sc_query_s = time.perf_counter() - t1
    want_sc = sorted(
        map(tuple, q_readability_scores(spark, SF_DIR).collect())
    )
    if got_sc != want_sc:
        raise RuntimeError("streaming readability from state != batch")
    results["streaming_readability_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs_r,
        "rows_per_sec": round(n_docs_r / wall) if wall else None,
        "micro_batches": (rmon.last_batch_id or 0) + 1,
        "scores_query_s": round(sc_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_readability_monitor: "
        f"{results['streaming_readability_monitor']}",
        file=sys.stderr,
    )

    # --- streaming chi2 drift monitor: value-grain histogram fold,
    # statistic from state via the batch query's shared tail.
    from sleep_edf_data_pipeline_spark.queries.chi2_drift import (
        q_chi2_drift_by_source,
    )
    from sleep_edf_data_pipeline_spark.streaming.chi2 import (
        StreamingChi2Monitor,
    )

    docs_chi = table(spark, SF_DIR, "documents").select("source", "n_chars")
    docs_chi.repartition(N_FILES).write.parquet(f"{STAGE}/docs_chi2")
    n_docs_c = spark.read.parquet(f"{STAGE}/docs_chi2").count()
    cmon = StreamingChi2Monitor(f"{STAGE}/chi2_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("source string, n_chars bigint")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_chi2")
        .writeStream.foreachBatch(cmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_chi2")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming chi2 monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_c2 = sorted(map(tuple, cmon.chi2(spark).collect()))
    c2_query_s = time.perf_counter() - t1
    spark.catalog.clearCache()
    want_c2 = sorted(
        map(tuple, q_chi2_drift_by_source(spark, SF_DIR).collect())
    )
    spark.catalog.clearCache()
    if got_c2 != want_c2:
        raise RuntimeError("streaming chi2 from state != batch")
    results["streaming_chi2_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs_c,
        "rows_per_sec": round(n_docs_c / wall) if wall else None,
        "micro_batches": (cmon.last_batch_id or 0) + 1,
        "chi2_query_s": round(c2_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_chi2_monitor: "
        f"{results['streaming_chi2_monitor']}",
        file=sys.stderr,
    )

    # --- streaming DDSketch quantile monitor (r10): geometric-bucket
    # histogram fold, quantiles from state via the batch tail.
    from sleep_edf_data_pipeline_spark.queries.quantile_sketch import (
        q_ddsketch_quantiles_price,
    )
    from sleep_edf_data_pipeline_spark.streaming.quantiles import (
        StreamingQuantileMonitor,
    )

    prices = table(spark, SF_DIR, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("x"),
    )
    prices.repartition(N_FILES).write.parquet(f"{STAGE}/prices_dd")
    n_prices = spark.read.parquet(f"{STAGE}/prices_dd").count()
    dmon = StreamingQuantileMonitor(f"{STAGE}/dd_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("grp string, x double")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/prices_dd")
        .writeStream.foreachBatch(dmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_dd")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming ddsketch monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_dd = sorted(map(tuple, dmon.quantiles(spark).collect()))
    dd_query_s = time.perf_counter() - t1
    spark.catalog.clearCache()
    want_dd = sorted(
        map(
            tuple,
            q_ddsketch_quantiles_price(spark, SF_DIR)
            .withColumnRenamed("l_returnflag", "grp")
            .collect(),
        )
    )
    spark.catalog.clearCache()
    if got_dd != want_dd:
        raise RuntimeError("streaming ddsketch quantiles from state != batch")
    results["streaming_ddsketch_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_prices,
        "rows_per_sec": round(n_prices / wall) if wall else None,
        "micro_batches": (dmon.last_batch_id or 0) + 1,
        "quantile_query_s": round(dd_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_ddsketch_monitor: "
        f"{results['streaming_ddsketch_monitor']}",
        file=sys.stderr,
    )

    # --- streaming winsorize monitor (r10): value-grain cents
    # histogram fold, clipped stats from state via the batch tail.
    from sleep_edf_data_pipeline_spark.queries.winsorize import (
        q_winsorized_price_stats,
    )
    from sleep_edf_data_pipeline_spark.streaming.winsorize import (
        StreamingWinsorMonitor,
    )

    cents = table(spark, SF_DIR, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    cents.repartition(N_FILES).write.parquet(f"{STAGE}/cents_w")
    n_cents = spark.read.parquet(f"{STAGE}/cents_w").count()
    wmon = StreamingWinsorMonitor(f"{STAGE}/winsor_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("grp string, cents bigint")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/cents_w")
        .writeStream.foreachBatch(wmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_w")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming winsorize monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_w = sorted(map(tuple, wmon.winsorized(spark).collect()))
    w_query_s = time.perf_counter() - t1
    spark.catalog.clearCache()
    want_w = sorted(
        map(tuple, q_winsorized_price_stats(spark, SF_DIR).collect())
    )
    spark.catalog.clearCache()
    if got_w != want_w:
        raise RuntimeError("streaming winsorized stats from state != batch")
    results["streaming_winsorize_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_cents,
        "rows_per_sec": round(n_cents / wall) if wall else None,
        "micro_batches": (wmon.last_batch_id or 0) + 1,
        "stats_query_s": round(w_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_winsorize_monitor: "
        f"{results['streaming_winsorize_monitor']}",
        file=sys.stderr,
    )

    # --- streaming HLL distinct-rollup monitor (r11): per-day sketch
    # fold; ESTIMATE equality vs batch is the contract (register-wise
    # max is order-free; serialized bytes can differ by merge order).
    from sleep_edf_data_pipeline_spark.queries.hll_rollup import (
        _events_day,
        q_hll_rollup_distinct,
    )
    from sleep_edf_data_pipeline_spark.streaming.hll import (
        StreamingDistinctMonitor,
    )

    days = _events_day(spark, SF_DIR)
    days.repartition(N_FILES).write.parquet(f"{STAGE}/days_hll")
    n_days_rows = spark.read.parquet(f"{STAGE}/days_hll").count()
    hmon2 = StreamingDistinctMonitor(f"{STAGE}/hll_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("day date, user_id bigint")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/days_hll")
        .writeStream.foreachBatch(hmon2.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_hll")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming hll monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_h = {r["day"]: r for r in hmon2.rollup(spark).collect()}
    h_query_s = time.perf_counter() - t1
    spark.catalog.clearCache()
    want_h = {
        r["day"]: r for r in q_hll_rollup_distinct(spark, SF_DIR).collect()
    }
    spark.catalog.clearCache()
    # contract (streaming/hll.py): identical row counts; every day and
    # cumulative estimate within 3*rsd of the batch twin's (HIP vs
    # composite estimator over identical registers when days span
    # batches / single-sketch unions copy HIP wholesale)
    from sleep_edf_data_pipeline_spark.queries.hll_rollup import HLL_RSD

    if set(got_h) != set(want_h):
        raise RuntimeError("streaming hll rollup keyset != batch")
    max_day_rel = 0.0
    for d, w in want_h.items():
        g = got_h[d]
        if g["n_events"] != w["n_events"]:
            raise RuntimeError(f"streaming hll row counts != batch at {d}")
        for col in ("est_day_users", "est_cum_users"):
            if abs(g[col] - w[col]) > max(2.0, 3 * HLL_RSD * w[col]):
                raise RuntimeError(f"streaming hll {col} out of 3*rsd at {d}")
            if w[col]:
                max_day_rel = max(
                    max_day_rel, abs(g[col] - w[col]) / w[col]
                )
    results["streaming_hll_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_days_rows,
        "rows_per_sec": round(n_days_rows / wall) if wall else None,
        "micro_batches": (hmon2.last_batch_id or 0) + 1,
        "rollup_query_s": round(h_query_s, 3),
        "max_est_rel_vs_batch": round(max_day_rel, 6),
        "bound_3rsd": round(3 * HLL_RSD, 6),
    }
    print(
        "# streaming_hll_monitor: "
        f"{results['streaming_hll_monitor']}",
        file=sys.stderr,
    )

    # --- streaming winnowing monitor: per-source doc-local fingerprint
    # sums fold, profile from state via the batch query's shared tail.
    from sleep_edf_data_pipeline_spark.queries.winnowing import (
        q_winnowing_source_stats,
    )
    from sleep_edf_data_pipeline_spark.streaming.winnowing import (
        StreamingWinnowingMonitor,
    )

    docs_win = table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    docs_win.repartition(N_FILES).write.parquet(f"{STAGE}/docs_win")
    n_docs_w = spark.read.parquet(f"{STAGE}/docs_win").count()
    wmon = StreamingWinnowingMonitor(f"{STAGE}/win_state")
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{STAGE}/docs_win")
        .writeStream.foreachBatch(wmon.process_batch)
        .option("checkpointLocation", f"{STAGE}/_ckpt_win")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        exc = q.exception()
        q.stop()
        raise RuntimeError(f"streaming winnowing monitor failed: {exc}")
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    got_wn = sorted(map(tuple, wmon.stats(spark).collect()))
    wn_query_s = time.perf_counter() - t1
    want_wn = sorted(
        map(tuple, q_winnowing_source_stats(spark, SF_DIR).collect())
    )
    if got_wn != want_wn:
        raise RuntimeError("streaming winnowing from state != batch")
    results["streaming_winnowing_monitor"] = {
        "wall_s": round(wall, 3),
        "rows_in": n_docs_w,
        "rows_per_sec": round(n_docs_w / wall) if wall else None,
        "micro_batches": (wmon.last_batch_id or 0) + 1,
        "stats_query_s": round(wn_query_s, 3),
        "exact_vs_batch": True,
    }
    print(
        "# streaming_winnowing_monitor: "
        f"{results['streaming_winnowing_monitor']}",
        file=sys.stderr,
    )

    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": SF_DIR,
                "n_files": N_FILES,
                "files_per_trigger": FILES_PER_TRIGGER,
                "queries": results,
            },
            f,
            indent=1,
        )
        f.write("\n")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
