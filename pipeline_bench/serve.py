"""``serve_mixed``: ``SentimentEngine`` over a store seeded through
``store()``, with two closed-loop clients side by side; beside it, a few
registry queries.

A reader cycles through ``summary(hours=24)``, ``recent(limit=50,
sentiment=...)``, ``sql(...)`` and ``health()``; a writer calls
``store()`` with fixed-size batches, a fixed share of whose keys are
already stored. Reads and keyed appends share the store, and every write
adds files to it. The streaming layer is bypassed. The queries of
``metrics.SERVE_QUERIES`` run cold in the warm-up on a seeded
``documents`` table, and a traced run times one warm pass of them, each
forced with ``write.format("noop")``.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
from pyspark.sql import functions as F

import generator
import metrics
from harness import REPO_DIR

from social_media_sentiment_analysis_spark.api import SentimentEngine
from social_media_sentiment_analysis_spark.queries.registry import QUERIES

sys.path.insert(0, os.path.join(REPO_DIR, "tools"))
from oracle_check import value_hash  # noqa: E402

SEED_ROWS = 40_000
WRITE_ROWS = 500
REPEAT_SHARE = 0.2
LABELS = ("positive", "negative", "neutral")
READ_SQL = (
    "SELECT author_id, count(*) AS n, round(avg(confidence_score), 4) AS c "
    "FROM tweets GROUP BY author_id ORDER BY n DESC, author_id LIMIT 20")
READS = ("summary", "recent", "sql", "health")
DOCUMENTS = 500


def _write_parquet(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "tweet_id": pa.array(cols[0], pa.string()),
        "text": pa.array(cols[1], pa.string()),
        "author_id": pa.array(cols[2], pa.string()),
        "like_count": pa.array(cols[3], pa.int64()),
    }), path)


def _read(engine: SentimentEngine, op: str, i: int):
    if op == "summary":
        return engine.summary(hours=24).collect()
    if op == "recent":
        return engine.recent(limit=50, sentiment=LABELS[i % len(LABELS)]).collect()
    if op == "sql":
        return engine.sql(READ_SQL).collect()
    return engine.health()


def _summary_rows(rows) -> list[tuple]:
    return sorted((r["final_sentiment"], r["tweet_count"], r["avg_confidence"])
                  for r in rows)


def run(ctx) -> dict:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    seed, seconds = ctx.seed, ctx.seconds
    lex = generator.lexicon_words()
    corpus = generator.tweet_rows(seed, 0, 0, SEED_ROWS, lex)
    corpus_path = work.sub("serve", "corpus.parquet")
    os.makedirs(os.path.dirname(corpus_path))
    _write_parquet(corpus, corpus_path)
    engine = SentimentEngine(spark, work.sub("serve", "store"))
    ctx.mark("seed_store")
    with tracer.span("api.seed_store"):
        seeded = engine.store(spark.read.parquet(corpus_path))

    ctx.mark("clients")
    fresh_rows = WRITE_ROWS - int(WRITE_ROWS * REPEAT_SHARE)
    rng = np.random.default_rng([seed, 31337])
    lock = threading.Lock()
    reads: list[tuple[str, float]] = []
    writes: list[tuple[float, int, int]] = []      # (latency, added, offered)
    errors: list[str] = []
    start = time.perf_counter()
    deadline = start + seconds
    last_done = [start]

    def reader() -> None:
        i = 0
        while time.perf_counter() < deadline:
            op = READS[i % len(READS)]
            t0 = time.perf_counter()
            try:
                with tracer.span(f"api.{op}"):
                    _read(engine, op, i // len(READS))
            except Exception:
                with lock:
                    errors.append(traceback.format_exc())
            else:
                with lock:
                    last_done[0] = max(last_done[0], time.perf_counter())
                    reads.append((op, last_done[0] - t0))
            i += 1

    def writer() -> None:
        b = 0
        while time.perf_counter() < deadline:
            with lock:
                picks = rng.integers(0, SEED_ROWS, WRITE_ROWS - fresh_rows)
            rows = generator.tweet_rows(seed, 1, b * fresh_rows, fresh_rows, lex)
            rows += [corpus[int(k)] for k in picks]
            df = spark.createDataFrame(rows, generator.TWEET_ROW_DDL)
            t0 = time.perf_counter()
            try:
                with tracer.span("api.store"):
                    added = engine.store(df)
            except Exception:
                with lock:
                    errors.append(traceback.format_exc())
            else:
                with lock:
                    last_done[0] = max(last_done[0], time.perf_counter())
                    writes.append((last_done[0] - t0, added, len(rows)))
            b += 1

    clients = [threading.Thread(target=reader), threading.Thread(target=writer)]
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=seconds + 120)
    if any(c.is_alive() for c in clients):
        raise RuntimeError("a serve client did not finish")
    for e in errors[:3]:
        print(e, file=sys.stderr)

    # -- correctness, after timing --------------------------------------
    ctx.mark("gates")
    # a repeated key (and only it) is already stored, so each store()
    # must add exactly the fresh rows
    failed = len(errors) + sum(1 for _, a, _ in writes if a != fresh_rows)
    failed += seeded != SEED_ROWS
    table = spark.read.parquet(engine.store_path)
    stored = table.count()
    failed += stored != seeded + sum(a for _, a, _ in writes)
    direct = table.groupBy("final_sentiment").agg(
        F.count(F.lit(1)).alias("tweet_count"),
        F.coalesce(F.round(F.avg("confidence_score"), 4), F.lit(0.0))
        .alias("avg_confidence"))
    failed += _summary_rows(engine.summary(hours=24).collect()) \
        != _summary_rows(direct.collect())
    # each query's warm-up output (same builder, same table) against its
    # registry oracle on DuckDB, compared as tools/oracle_check.py does
    mismatches = _oracle_mismatches(work.sub("docs"), ctx.outputs)
    failed += len(mismatches)
    attempted = (len(reads) + len(writes) + len(errors) + 3     # + 3 gates
                 + len(ctx.outputs))                         # + oracle gates

    read_s = [t for _, t in reads]
    read_sum = metrics.summary(read_s)
    write_ms = [t * 1000.0 for t, _, _ in writes]
    store_files = [f for f in os.listdir(engine.store_path)
                   if f.endswith(".parquet")]
    by_call = {op: metrics.summary([t * 1000.0 for o, t in reads if o == op])
               for op in READS}
    layer = {f"api.{op}_ms_p50": by_call[op]["p50"] for op in READS}
    # the four calls differ in cost, so a pooled percentile jumps between
    # them with the mix of calls a run happened to finish; the mean over
    # the calls of each call's percentile does not
    read_p50_ms = sum(c["p50"] for c in by_call.values()) / len(READS)
    read_p90_ms = sum(c["p90"] for c in by_call.values()) / len(READS)
    offered = sum(n for _, _, n in writes)
    layer.update({
        "api.store_ms_p50": metrics.median(write_ms),
        "api.store_added_ratio": (sum(a for _, a, _ in writes) / offered
                                  if offered else 0.0),
        "api.store_files_end": len(store_files),
    })
    if tracer.enabled:
        read_jobs = [j for op in READS for j in tracer.jobs(f"api.{op}")]
        store_jobs = tracer.jobs("api.store")
        layer["api.jobs_per_read"] = sum(read_jobs) / max(1, len(read_jobs))
        layer["api.jobs_per_store"] = sum(store_jobs) / max(1, len(store_jobs))
        ctx.mark("queries")
        layer.update(_query_pass(spark, tracer, work.sub("docs")))
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "throughput_per_s": (len(reads) + len(writes)) / (last_done[0] - start),
            "latency_p50_ms": read_p50_ms,
            "latency_tail_ms": read_p90_ms,
            "write_p50_ms": metrics.median(write_ms),
        },
        "layer": layer,
        "detail": {
            "read_p50_ms": {"value": read_sum["p50"] * 1000.0, "unit": "ms",
                            "n": read_sum["n"]},
            "read_call_p50_mean_ms": {"value": read_p50_ms, "unit": "ms",
                                      "n": read_sum["n"]},
            "read_p90_ms": {"value": read_sum["p90"] * 1000.0, "unit": "ms",
                            "n": read_sum["n"]},
            "write_p50_ms": {"value": metrics.median(write_ms), "unit": "ms",
                             "n": len(write_ms)},
            "read_call_p90_mean_ms": {"value": read_p90_ms, "unit": "ms",
                                      "n": read_sum["n"]},
            "read_ms_by_call": by_call,
            "seed_rows": seeded,
            "store_rows_end": stored,
            "oracle_mismatches": mismatches,
        },
    }


def _query_pass(spark, tracer, docs: str) -> dict:
    """Build each registry query and force it with a ``noop`` write, warm
    (the warm-up ran each once); only a traced run needs these numbers."""
    layer = {}
    for name in metrics.SERVE_QUERIES:
        with tracer.span(f"queries.{name}.build"):
            t0 = time.perf_counter()
            df = QUERIES[name].builder(spark, docs)
            t1 = time.perf_counter()
        with tracer.span(f"queries.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        layer[f"queries.{name}.build_s"] = t1 - t0
        layer[f"queries.{name}.exec_s"] = t2 - t1
        layer[f"queries.{name}.jobs"] = sum(
            tracer.jobs(f"queries.{name}.build")
            + tracer.jobs(f"queries.{name}.exec"))
    return layer


def _oracle_mismatches(docs: str, outputs: dict) -> list[str]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(docs, 'documents.parquet')}'")
    bad = []
    for name, got in outputs.items():
        want = con.execute(QUERIES[name].oracle).df()
        if (len(got) != len(want) or sorted(got.columns) != sorted(want.columns)
                or value_hash(got) != value_hash(want)):
            bad.append(name)
    con.close()
    return bad


def warm(ctx) -> None:
    """One store() and one call of each read on a small store, and beside
    them each registry query on the run's ``documents`` table, collected
    for the gates."""
    spark, work = ctx.spark, ctx.work
    docs = work.sub("docs")
    generator.write_documents(ctx.seed, docs, DOCUMENTS)

    def collect(name: str):
        return QUERIES[name].builder(spark, docs).toPandas()

    with ThreadPoolExecutor(len(metrics.SERVE_QUERIES)) as pool:
        outputs = pool.map(collect, metrics.SERVE_QUERIES)
        engine = SentimentEngine(spark, work.sub("warm", "store"))
        rows = generator.tweet_rows(10**6, 0, 0, 200,
                                    generator.lexicon_words())
        engine.store(spark.createDataFrame(rows, generator.TWEET_ROW_DDL))
        for j, op in enumerate(READS):
            _read(engine, op, j)
        ctx.outputs = dict(zip(metrics.SERVE_QUERIES, outputs))
