"""``ingest``: the reference dataflow as one streaming query.

File stream of JSONL envelopes -> ``parse_envelopes`` ->
``enrich_tweet_stream`` -> ``idempotent_parquet_sink``. Two phases on the
same query: catch-up drains a pre-written backlog (per-row work dominates),
then live reads one file per generator tick at a fixed open-loop rate
(fixed per-batch cost dominates).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

import generator
import metrics
from harness import BENCH_DIR

from social_media_sentiment_analysis_spark.functions.sentiment import (
    sentiment_enrich,
)
from social_media_sentiment_analysis_spark.streaming import (
    enrich_tweet_stream,
    flatten_envelope,
    idempotent_parquet_sink,
    parse_envelopes,
)

BACKLOG_FILES = 64                       # 8k envelopes
MAX_FILES_PER_TRIGGER = 16
WARM_FILES = 2
REPLAY_BATCHES = 2
WAIT_S = 120


def _query(spark, src: str, store: str, checkpoint: str):
    raw = (spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
           .text(src))
    good, _rejects = parse_envelopes(raw)
    return idempotent_parquet_sink(enrich_tweet_stream(good), store,
                                   checkpoint).start()


def _generate(seed: int, out: str, first: int, files: int, t0_ms: float,
              manifest: str | None = None) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "generator.py"),
           "--seed", str(seed), "--out", out, "--first-file", str(first),
           "--files", str(files), "--t0-ms", repr(t0_ms)]
    if manifest:
        cmd += ["--live", "--manifest", manifest]
    return subprocess.Popen(cmd)


def _finish(proc: subprocess.Popen, timeout: float) -> None:
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("generator did not finish in time")
    if code != 0:
        raise RuntimeError(f"generator exited with {code}")


def _wait_rows(query, rows: int, timeout: float) -> list[dict]:
    """Poll until the query has read ``rows`` input rows; return its
    progress reports."""
    deadline = time.time() + timeout
    while True:
        err = query.exception()
        if err is not None:
            raise RuntimeError(f"streaming query failed: {err}")
        progress = query.recentProgress
        if sum(p["numInputRows"] for p in progress) >= rows:
            return progress
        if time.time() > deadline:
            raise RuntimeError("streaming query fell behind the wait limit")
        time.sleep(0.05)


def _count_by_label(df) -> dict[str, int]:
    return {r[0]: r[1] for r in df.groupBy("final_sentiment").count().collect()}


def run(ctx) -> dict:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    seed, seconds = ctx.seed, ctx.seconds
    src, store, ckpt = (work.sub("ingest", d) for d in ("src", "store", "ckpt"))
    os.makedirs(src)
    tick_ms = generator.TICK_S * 1000.0

    backlog = _generate(seed, src, 0, BACKLOG_FILES,
                        time.time() * 1000.0 - BACKLOG_FILES * tick_ms)
    _finish(backlog, WAIT_S)
    backlog_rows = BACKLOG_FILES * generator.TICK_EVENTS

    # -- catch-up: drain the backlog -----------------------------------
    ctx.mark("catchup")
    start_ms = time.time() * 1000.0
    with tracer.span("streaming.start"):
        query = _query(spark, src, store, ckpt)
    try:
        progress = _wait_rows(query, backlog_rows, WAIT_S)
        seen, catchup_last = 0, None
        for p in progress:
            seen += p["numInputRows"]
            if seen >= backlog_rows:
                catchup_last = p
                break
        drain_s = (metrics.progress_commit_ms(catchup_last) - start_ms) / 1000.0

        # -- live: one file per tick, open loop, for half the run ---------
        # (catch-up, whose length the backlog sets, takes about the other)
        ctx.mark("live")
        live_files = max(1, int(round(seconds / 2 / generator.TICK_S)))
        manifest_path = work.sub("ingest", "manifest.json")
        live = _generate(seed, src, BACKLOG_FILES, live_files,
                         time.time() * 1000.0 + 100.0, manifest=manifest_path)
        _finish(live, seconds + WAIT_S)
        progress = _wait_rows(
            query, backlog_rows + live_files * generator.TICK_EVENTS, WAIT_S)
    finally:
        query.stop()
    # an idle trigger reports progress too, without running a batch
    progress = [p for p in progress if "addBatch" in p["durationMs"]]

    with open(manifest_path) as fh:
        manifest = json.load(fh)
    batch_of = metrics.batch_of_files(metrics.read_source_log(ckpt), progress)
    by_id = {p["batchId"]: p for p in progress}
    commit = {b: metrics.progress_commit_ms(p) for b, p in by_id.items()}
    started = {b: metrics.progress_start_ms(p) for b, p in by_id.items()}
    fresh = metrics.freshness_s(manifest, batch_of, commit, generator.RATE_PER_S)
    fresh_sum = metrics.summary(fresh)
    catchup_id = catchup_last["batchId"]
    catchup = [p for p in progress if p["batchId"] <= catchup_id]
    live_batches = [p for p in progress if p["batchId"] > catchup_id]
    live_writes = [p["durationMs"]["triggerExecution"] for p in live_batches
                   if p["numInputRows"] > 0]

    # -- correctness, after timing --------------------------------------
    ctx.mark("gates")
    paths = sorted(os.path.join(src, f) for f in os.listdir(src)
                   if f.endswith(".jsonl"))
    attempted = len(paths) * generator.TICK_EVENTS
    truth = generator.ground_truth(paths)
    sink = spark.read.parquet(store)
    sink_ids = [r[0] for r in sink.select("tweet_id").collect()]
    failed = len(truth.symmetric_difference(sink_ids)) \
        + (len(sink_ids) - len(set(sink_ids)))
    good, _ = parse_envelopes(spark.read.text(src))
    reference = sentiment_enrich(
        flatten_envelope(good).filter(F.col("language") == "en")
        .dropDuplicates(["tweet_id"]), text_col="tweet_text",
    ).filter(F.trim(F.col("cleaned_text")) != "")
    want, got = _count_by_label(reference), _count_by_label(sink)
    failed += sum(abs(want.get(k, 0) - got.get(k, 0)) for k in set(want) | set(got))
    failed = min(failed, attempted)

    store_files = [f for f in os.listdir(store) if f.endswith(".parquet")]
    state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    rows_in = sum(p["numInputRows"] for p in progress)
    emitted = sum(s["numRowsUpdated"] for s in state)

    def durs(batches, key):
        return [p["durationMs"].get(key, 0) / 1000.0 for p in batches]

    layer = {
        "streaming.catchup.batches": len(catchup),
        "streaming.catchup.batch_s_p50": metrics.median(durs(catchup, "triggerExecution")),
        "streaming.live.batches": len(live_batches),
        "streaming.live.batch_s_p50": metrics.median(durs(live_batches, "triggerExecution")),
        "streaming.live.planning_s_p50": metrics.median(durs(live_batches, "queryPlanning")),
        "streaming.live.latest_offset_s_p50": metrics.median(durs(live_batches, "latestOffset")),
        "streaming.live.wal_commit_s_p50": metrics.median(durs(live_batches, "walCommit")),
        "streaming.live.commit_offsets_s_p50": metrics.median(durs(live_batches, "commitOffsets")),
        "streaming.live.add_batch_s_p50": metrics.median(durs(live_batches, "addBatch")),
        "streaming.live.backlog_files_max": metrics.backlog_files_max(manifest, batch_of, started),
        "generator.late_s_p99": metrics.percentile(
            [(r["written_ms"] - r["due_ms"]) / 1000.0 for r in manifest], 99),
        "streaming.state_rows_end": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_rows_removed": sum(s.get("numRowsRemoved", 0) for s in state),
        "streaming.state_commit_s_p50": metrics.median([s["commitTimeMs"] / 1000.0 for s in state]),
        "streaming.state_memory_bytes_end": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.rows_out_per_in": len(sink_ids) / rows_in if rows_in else 0.0,
        "sinks.rows_written": len(sink_ids),
        "sinks.files_written": len(store_files),
        "sinks.dup_rows_rejected": emitted - len(sink_ids),
        "sinks.store_files_end": len(store_files),
    }
    if tracer.enabled:
        ctx.mark("replay")
        layer.update(_replay(spark, tracer, src, catchup, batch_of))

    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "throughput_per_s": backlog_rows / drain_s,
            "latency_p50_ms": fresh_sum["p50"] * 1000.0,
            "latency_tail_ms": fresh_sum["p99"] * 1000.0,
            "write_p50_ms": metrics.median(live_writes),
        },
        "layer": layer,
        "detail": {
            "catchup_events_per_s": {"value": backlog_rows / drain_s,
                                     "unit": "1/s", "events": backlog_rows,
                                     "drain_s": drain_s},
            "live_freshness_p50_s": {"value": fresh_sum["p50"], "unit": "s",
                                     "n": fresh_sum["n"]},
            "live_freshness_p99_s": {"value": fresh_sum["p99"], "unit": "s",
                                     "n": fresh_sum["n"]},
            "live_batch_p50_ms": {"value": metrics.median(live_writes),
                                  "unit": "ms", "n": len(live_writes)},
            "live_rate_per_s": generator.RATE_PER_S,
            "gates": {"truth_ids": len(truth), "sink_ids": len(sink_ids),
                      "labels_expected": want, "labels_sink": got},
        },
    }


def warm(ctx) -> None:
    """Run the same pipeline with an availableNow trigger over two small
    files, so codegen and Python workers are paid before timing."""
    spark, work = ctx.spark, ctx.work
    base = work.sub("warm")
    src = os.path.join(base, "src")
    generator.write_envelopes(10**6, src, 0, WARM_FILES,
                              time.time() * 1000.0)
    raw = spark.readStream.text(src)
    good, _ = parse_envelopes(raw)
    q = (idempotent_parquet_sink(enrich_tweet_stream(good),
                                 os.path.join(base, "store"),
                                 os.path.join(base, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    spark.read.parquet(os.path.join(base, "store")).count()


def _replay(spark, tracer, src: str, catchup: list[dict],
            batch_of: dict[str, int]) -> dict:
    """Replay catch-up batches as static frames and time each stage of the
    pipeline cumulatively: parse, + sentiment scoring, + filter and dedup.
    A sink's own time is the batch's add-batch time minus the static time
    of the whole pipeline on the same files."""
    def force(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    parse, enrich, dedup, rate, sink_self = [], [], [], [], []
    for p in [p for p in catchup if p["numInputRows"] > 0][:REPLAY_BATCHES]:
        files = [os.path.join(src, f) for f, b in batch_of.items()
                 if b == p["batchId"]]
        good, _ = parse_envelopes(spark.read.text(files))
        flat = flatten_envelope(good)
        rows = flat.count()
        with tracer.span("pipeline.parse"):
            t_parse = force(flat)
        with tracer.span("sentiment.enrich"):
            t_enrich = force(sentiment_enrich(flat, text_col="tweet_text"))
        with tracer.span("pipeline.dedup"):
            t_all = force(enrich_tweet_stream(good))
        parse.append(t_parse)
        enrich.append(max(t_enrich - t_parse, 1e-9))
        dedup.append(max(t_all - t_enrich, 0.0))
        rate.append(rows / enrich[-1])
        sink_self.append(p["durationMs"]["addBatch"] / 1000.0 - t_all)
    return {
        "pipeline.parse_s": metrics.median(parse),
        "sentiment.enrich_s": metrics.median(enrich),
        "sentiment.rows_per_s": metrics.median(rate),
        "pipeline.dedup_s": metrics.median(dedup),
        "sinks.self_s_p50": metrics.median(sink_self),
    }
