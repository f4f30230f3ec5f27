"""Metric names and arithmetic for the pipeline benchmark: the names
BENCHMARK.json declares, and pure functions over numbers and files, so
they are unit-tested without Spark."""

from __future__ import annotations

import ast
import json
import math
import os
from datetime import datetime


#: Printed by every workload with ``--trace 0``.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "write_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

#: The registry queries ``serve_mixed`` runs after its clients, in pass
#: order: the sentiment summary and top-k reads, and the MinHash near-dup
#: query (operators and ml).
SERVE_QUERIES = ("sentiment_summary", "recent_tweets", "dedup_minhash")

#: Printed by every workload with ``--trace 1``; a layer the workload does
#: not reach reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "streaming.catchup.batches": "count",
    "streaming.catchup.batch_s_p50": "s",
    "streaming.live.batches": "count",
    "streaming.live.batch_s_p50": "s",
    "streaming.live.planning_s_p50": "s",
    "streaming.live.latest_offset_s_p50": "s",
    "streaming.live.wal_commit_s_p50": "s",
    "streaming.live.commit_offsets_s_p50": "s",
    "streaming.live.add_batch_s_p50": "s",
    "streaming.live.backlog_files_max": "count",
    "generator.late_s_p99": "s",
    "streaming.state_rows_end": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_commit_s_p50": "s",
    "streaming.state_memory_bytes_end": "bytes",
    "streaming.rows_out_per_in": "ratio",
    "pipeline.parse_s": "s",
    "sentiment.enrich_s": "s",
    "sentiment.rows_per_s": "1/s",
    "pipeline.dedup_s": "s",
    "sinks.self_s_p50": "s",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.dup_rows_rejected": "count",
    "sinks.store_files_end": "count",
    "api.summary_ms_p50": "ms",
    "api.recent_ms_p50": "ms",
    "api.sql_ms_p50": "ms",
    "api.health_ms_p50": "ms",
    "api.store_ms_p50": "ms",
    "api.store_added_ratio": "ratio",
    "api.store_files_end": "count",
    "api.jobs_per_read": "count",
    "api.jobs_per_store": "count",
    **{f"queries.{q}.{m}": u for q in SERVE_QUERIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "error_rate": "ratio",
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def summary(values: list[float], qs: tuple[int, ...] = (50, 90, 99)) -> dict:
    """Percentiles of ``values`` keyed ``p50``... with the sample count
    ``n``; an empty sample gives ``n`` 0 and zero percentiles."""
    out = {f"p{q}": (percentile(values, q) if values else 0.0) for q in qs}
    out["n"] = len(values)
    return out


def median(values: list[float]) -> float:
    return percentile(values, 50) if values else 0.0


def error_rate(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("error rate needs at least one attempt")
    return failed / attempted


def progress_start_ms(progress: dict) -> float:
    """Wall-clock start of a micro-batch's trigger, in epoch ms."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() * 1000.0


def progress_commit_ms(progress: dict) -> float:
    """Wall-clock end of a micro-batch: its trigger start plus its trigger
    execution time, which ends with the commit."""
    return progress_start_ms(progress) + progress["durationMs"]["triggerExecution"]


def read_source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File name -> file-source log offset, from the file source's log in
    the query checkpoint (plain and ``.compact`` files; first line is the
    version, then one JSON entry per file)."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    batch_of = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                batch_of[os.path.basename(entry["path"])] = entry["batchId"]
    return batch_of


def _log_offset(offset) -> int:
    """A file-source offset as PySpark's progress gives it: a dict, JSON
    text, or the ``str()`` of the parsed JSON (``"None"`` before the first
    batch)."""
    if isinstance(offset, str):
        offset = ast.literal_eval(offset)    # also reads JSON objects
    return -1 if offset is None else offset["logOffset"]


def batch_of_files(source_log: dict[str, int], progress: list[dict],
                   source: int = 0) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source
    numbers its log entries itself; they fall behind micro-batch ids after
    a batch that read no file (a no-data batch run to advance the
    watermark), so each batch's source offsets in its progress report
    decide which entries it read."""
    batch_of_offset = {}
    for p in progress:
        src = p["sources"][source]
        for off in range(_log_offset(src["startOffset"]) + 1,
                         _log_offset(src["endOffset"]) + 1):
            batch_of_offset[off] = p["batchId"]
    return {f: batch_of_offset[off] for f, off in source_log.items()}


def freshness_s(manifest: list[dict], batch_of: dict[str, int],
                commit_ms: dict[int, float], rate_per_s: float) -> list[float]:
    """Per event: seconds from its scheduled generator time to the commit of
    the micro-batch that read its file. Event ``j`` of a file is scheduled
    at ``start_ms + j / rate``."""
    out = []
    for rec in manifest:
        done = commit_ms[batch_of[rec["file"]]]
        step = 1000.0 / rate_per_s
        out.extend((done - (rec["start_ms"] + j * step)) / 1000.0
                   for j in range(rec["events"]))
    return out


def backlog_files_max(manifest: list[dict], batch_of: dict[str, int],
                      start_ms: dict[int, float]) -> int:
    """Most files written but not yet taken by a batch, seen at the start of
    any batch that took live files."""
    batches = sorted({batch_of[r["file"]] for r in manifest})
    worst = 0
    for b in batches:
        t = start_ms[b]
        waiting = sum(1 for r in manifest
                      if r["written_ms"] <= t and batch_of[r["file"]] >= b)
        worst = max(worst, waiting)
    return worst
