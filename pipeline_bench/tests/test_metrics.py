"""Metric arithmetic of the pipeline benchmark, without Spark.

    python3 -m pytest pipeline_bench/tests -q
"""

import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))          # 1..100
    assert metrics.percentile(values, 50) == 50
    assert metrics.percentile(values, 90) == 90
    assert metrics.percentile(values, 99) == 99
    assert metrics.percentile(values, 100) == 100
    assert metrics.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert metrics.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_summary_reports_sample_count():
    s = metrics.summary([4.0, 1.0, 3.0, 2.0])
    assert s == {"p50": 2.0, "p90": 4.0, "p99": 4.0, "n": 4}
    assert metrics.summary([]) == {"p50": 0.0, "p90": 0.0, "p99": 0.0, "n": 0}


def test_error_rate():
    assert metrics.error_rate(0, 10) == 0.0
    assert metrics.error_rate(3, 12) == 0.25
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0)


def _progress(batch_id, iso, trigger_ms):
    return {"batchId": batch_id, "timestamp": iso,
            "durationMs": {"triggerExecution": trigger_ms}}


def test_commit_time_is_trigger_start_plus_execution():
    p = _progress(0, "2024-01-01T00:00:01.500Z", 250)
    assert metrics.progress_start_ms(p) == 1704067201500.0
    assert metrics.progress_commit_ms(p) == 1704067201750.0


def _source_log(tmp_path, batches):
    """Write a file-source log the way Spark lays it out: one file per
    batch, and a ``.compact`` file that repeats earlier entries."""
    log = tmp_path / "ckpt" / "sources" / "0"
    log.mkdir(parents=True)
    for b, files in batches.items():
        entries = [json.dumps({"path": f"file:///in/{f}", "timestamp": 0,
                               "batchId": b}) for f in files]
        (log / str(b)).write_text("\n".join(["v1"] + entries))
    first = min(batches)
    compact = [json.dumps({"path": f"file:///in/{f}", "timestamp": 0,
                           "batchId": first}) for f in batches[first]]
    (log / f"{first}.compact").write_text("\n".join(["v1"] + compact))
    (log / ".0.crc").write_text("ignored")
    return str(tmp_path / "ckpt")


def _source(start, end):
    return {"sources": [{"startOffset": start, "endOffset": end}]}


def test_source_log_offsets_map_to_micro_batches(tmp_path):
    ckpt = _source_log(tmp_path, {3: ["a.jsonl"], 4: ["b.jsonl", "c.jsonl"]})
    log = metrics.read_source_log(ckpt)
    assert log == {"a.jsonl": 3, "b.jsonl": 4, "c.jsonl": 4}
    # micro-batch 5 read no file, so the source's entries 3 and 4 were
    # read by micro-batches 6 and 7; offsets arrive as JSON text or dicts
    progress = [dict(_source('{"logOffset":2}', '{"logOffset":2}'), batchId=5),
                dict(_source({"logOffset": 2}, {"logOffset": 3}), batchId=6),
                dict(_source('{"logOffset":3}', '{"logOffset":4}'), batchId=7)]
    assert metrics.batch_of_files(log, progress) == \
        {"a.jsonl": 6, "b.jsonl": 7, "c.jsonl": 7}
    first = [dict(_source("None", {"logOffset": 0}), batchId=0),
             dict(_source("{'logOffset': 0}", "{'logOffset': 1}"), batchId=1)]
    assert metrics.batch_of_files({"x": 0, "y": 1}, first) == {"x": 0, "y": 1}


def test_freshness_runs_to_the_commit_of_the_batch_that_read_the_file():
    batch_of = {"a.jsonl": 3, "b.jsonl": 4, "c.jsonl": 4}
    # two events per file at 2 events/s: scheduled start and start + 500 ms
    manifest = [
        {"file": "a.jsonl", "start_ms": 1000.0, "events": 2},
        {"file": "b.jsonl", "start_ms": 2000.0, "events": 2},
        {"file": "c.jsonl", "start_ms": 3000.0, "events": 2},
    ]
    commit = {3: 2500.0, 4: 4000.0}
    got = metrics.freshness_s(manifest, batch_of, commit, rate_per_s=2)
    assert got == [1.5, 1.0, 2.0, 1.5, 1.0, 0.5]
    s = metrics.summary(got)
    assert (s["p50"], s["p99"], s["n"]) == (1.0, 2.0, 6)


def test_backlog_counts_files_written_but_not_yet_taken():
    batch_of = {"a": 1, "b": 2, "c": 2, "d": 3}
    manifest = [{"file": f, "written_ms": w}
                for f, w in (("a", 0), ("b", 10), ("c", 20), ("d", 30))]
    # batch 2 starts after b, c and d are written: 3 files wait
    start = {1: 5.0, 2: 35.0, 3: 40.0}
    assert metrics.backlog_files_max(manifest, batch_of, start) == 3


def test_declared_metrics_match_the_benchmark_file():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
