"""Seeded input generator for the pipeline benchmark.

Everything the engine reads in a benchmark run comes from here, and every
byte is a function of the seed and the command-line arguments, so the same
seed gives the same input. The engine receives only the written files.

Two kinds of input:

* tweet envelopes (JSONL, the Kafka envelope schema) for ``ingest``: one
  file per generator tick of ``TICK_EVENTS`` events. Fixed mix: about 20 %
  re-deliveries of an earlier tweet, about 40 % non-``en`` rows, about 1 %
  truncated (malformed) JSON lines, 5-40 words per text drawn from the
  ``documents`` vocabulary plus a share of sentiment-lexicon words.
  ``kafka_timestamp`` is each event's scheduled creation time.
* a tweet corpus (rows for ``SentimentEngine.store``) and a ``documents``
  table (for registry queries) for ``serve_mixed``.

Run as a separate process for the ``ingest`` workload::

    python3 generator.py --seed 1 --out DIR --first-file 0 --files 200 \
        --t0-ms 1700000000000 [--live --manifest PATH]

Without ``--live`` all files are written at once (the backlog). With
``--live`` file ``k`` is written when its tick ends, at ``t0 + (k+1) *
TICK_S``, whatever the consumer is doing (open loop), and the manifest
records when each file was due and when it was written.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys
import time
from datetime import datetime, timedelta, timezone

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
LEXICON_CSV = os.path.join(
    os.path.dirname(HERE), "social_media_sentiment_analysis_spark", "data",
    "sentiment_lexicon.csv")

#: Open-loop live rate. At local[4] it is a fifth to two fifths of the
#: catch-up throughput, so per-batch fixed cost is most of a live batch.
RATE_PER_S = 500
TICK_S = 0.25
TICK_EVENTS = int(RATE_PER_S * TICK_S)

#: Words of the ``documents`` table texts.
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LEX_SHARE = 0.3
NON_EN = ("de", "es", "fr", "zh")
P_MALFORMED = 0.01
P_REPEAT = 0.20
P_EN = 0.60
N_AUTHORS = 5000


def lexicon_words(path: str = LEXICON_CSV) -> list[str]:
    with open(path, newline="") as f:
        return [row["word"] for row in csv.DictReader(f)]


def texts(rng: np.random.Generator, n: int, lex: list[str],
          lo: int = 5, hi: int = 40) -> list[str]:
    """``n`` texts of ``lo``..``hi`` words, ``LEX_SHARE`` of them lexicon
    words and the rest ``DOC_VOCAB`` words."""
    counts = rng.integers(lo, hi + 1, n)
    total = int(counts.sum())
    use_lex = rng.random(total) < LEX_SHARE
    doc = np.array(DOC_VOCAB, dtype=object)[rng.integers(len(DOC_VOCAB), size=total)]
    lexw = np.array(lex, dtype=object)[rng.integers(len(lex), size=total)]
    words = np.where(use_lex, lexw, doc)
    ends = np.cumsum(counts)
    return [" ".join(words[e - c:e]) for c, e in zip(counts, ends)]


# ---------------------------------------------------------------------------
# Tweet envelopes
# ---------------------------------------------------------------------------

NEW, REPEAT, MALFORMED = 0, 1, 2


def _file_draws(seed: int, f: int, lex: list[str]) -> dict:
    """Per-file draws; file ``f`` depends only on ``seed`` and ``f`` (and
    file ``f - 1`` for re-deliveries), so any range of files can be written
    by any process."""
    rng = np.random.default_rng([seed, f])
    m = TICK_EVENTS
    u = rng.random(m)
    kind = np.where(u < P_MALFORMED, MALFORMED,
                    np.where(u < P_MALFORMED + P_REPEAT, REPEAT, NEW))
    lang = np.where(rng.random(m) < P_EN, "en",
                    np.array(NON_EN)[rng.integers(len(NON_EN), size=m)])
    return {
        "kind": kind,
        "lang": lang,
        "text": texts(rng, m, lex),
        "author": rng.integers(0, N_AUTHORS, m),
        "metrics": rng.integers(0, 200, (m, 4)),
        "followers": rng.integers(0, 100_000, m),
        "pick": rng.random(m),
    }


def _base_envelope(seed: int, f: int, j: int, d: dict) -> dict:
    """The tweet first delivered at line ``j`` of file ``f`` (without its
    delivery timestamp)."""
    author = f"u{int(d['author'][j])}"
    created = (datetime(2024, 1, 1, tzinfo=timezone.utc)
               + timedelta(seconds=f * TICK_EVENTS + j))
    rt, like, reply, quote = (int(x) for x in d["metrics"][j])
    return {
        "data": {
            "id": f"{seed}-{f}-{j}",
            "text": d["text"][j],
            "created_at": created.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "author_id": author,
            "lang": str(d["lang"][j]),
            "public_metrics": {"retweet_count": rt, "like_count": like,
                               "reply_count": reply, "quote_count": quote},
        },
        "includes": {"users": [{
            "id": author, "name": f"User {author}", "username": author,
            "public_metrics": {"followers_count": int(d["followers"][j])},
        }]},
    }


def envelope_lines(seed: int, f: int, t0_ms: float,
                   lex: list[str]) -> list[str]:
    """The JSONL lines of file ``f``; line ``j`` is scheduled at
    ``t0_ms + j / RATE_PER_S`` seconds. A re-delivery copies a tweet first
    delivered in this file or the previous one."""
    cur = _file_draws(seed, f, lex)
    prev = _file_draws(seed, f - 1, lex) if f > 0 else None
    # candidates for re-delivery: well-formed first deliveries, oldest first
    pool = [(f - 1, j) for j in range(TICK_EVENTS)
            if prev is not None and prev["kind"][j] == NEW]
    lines = []
    for j in range(TICK_EVENTS):
        ts = int(round(t0_ms + j * 1000.0 / RATE_PER_S))
        kind = cur["kind"][j]
        if kind == REPEAT and pool:
            sf, sj = pool[int(cur["pick"][j] * len(pool))]
            env = _base_envelope(seed, sf, sj, prev if sf != f else cur)
        else:
            env = _base_envelope(seed, f, j, cur)
        env["kafka_timestamp"] = ts
        line = json.dumps(env, separators=(",", ":"))
        if kind == MALFORMED:
            line = line[: len(line) // 2]
        elif kind == NEW:
            pool.append((f, j))
        lines.append(line)
    return lines


def file_name(f: int) -> str:
    return f"tweets-{f:06d}.jsonl"


def write_file(out_dir: str, f: int, lines: list[str]) -> str:
    """Write atomically: Spark's file source skips dot-files, so the
    rename publishes the whole file at once."""
    tmp = os.path.join(out_dir, f".{file_name(f)}.tmp")
    dst = os.path.join(out_dir, file_name(f))
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, dst)
    return dst


def write_envelopes(seed: int, out_dir: str, first_file: int, files: int,
                    t0_ms: float, live: bool = False) -> list[dict]:
    """Write files ``first_file .. first_file + files - 1``; file ``k``
    (counted from ``first_file``) holds the events scheduled in tick ``k``
    after ``t0_ms``. Returns one manifest record per file."""
    lex = lexicon_words()
    os.makedirs(out_dir, exist_ok=True)
    records = []
    for k in range(files):
        f = first_file + k
        start_ms = t0_ms + k * TICK_S * 1000.0
        due_ms = start_ms + TICK_S * 1000.0
        lines = envelope_lines(seed, f, start_ms, lex)
        if live:
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
        path = write_file(out_dir, f, lines)
        records.append({"file": os.path.basename(path), "start_ms": start_ms,
                        "due_ms": due_ms, "written_ms": time.time() * 1000.0,
                        "events": len(lines)})
    return records


def ground_truth(paths: list[str]) -> set[str]:
    """Ids the ingest sink must hold: distinct ids of well-formed ``en``
    envelopes with non-empty text, parsed here without Spark."""
    ids = set()
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    env = json.loads(line)
                except json.JSONDecodeError:
                    continue
                data = env.get("data") or {}
                if (data.get("id") and data.get("lang") == "en"
                        and (data.get("text") or "").strip()):
                    ids.add(data["id"])
    return ids


# ---------------------------------------------------------------------------
# serve_mixed corpus
# ---------------------------------------------------------------------------

def tweet_rows(seed: int, stream: int, start: int, n: int,
               lex: list[str]) -> list[tuple]:
    """``n`` store rows with ids ``{seed}-c{stream}-{start..start+n-1}``;
    deterministic per (seed, stream, start)."""
    rng = np.random.default_rng([seed, 7919, stream, start])
    txt = texts(rng, n, lex)
    authors = rng.integers(0, N_AUTHORS, n)
    likes = rng.integers(0, 200, n)
    return [(f"{seed}-c{stream}-{start + i}", txt[i], f"u{int(authors[i])}",
             int(likes[i])) for i in range(n)]


TWEET_ROW_DDL = "tweet_id string, text string, author_id string, like_count long"


# ---------------------------------------------------------------------------
# documents table (the engine's testdata schema) for the registry queries
# ---------------------------------------------------------------------------

def write_documents(seed: int, out_dir: str, n: int = 500) -> None:
    """Write ``documents.parquet``: ``n`` texts of 10-100 words, a few of
    them near-duplicates of an earlier one (an extra token), for the
    sentiment and dedup queries of the registry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 104729])
    os.makedirs(out_dir, exist_ok=True)
    text = texts(rng, n, list(DOC_VOCAB), lo=10, hi=100)
    for i in rng.choice(np.arange(1, n), max(1, n // 100), replace=False):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--first-file", type=int, default=0)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--t0-ms", type=float, required=True)
    p.add_argument("--live", action="store_true")
    p.add_argument("--manifest")
    a = p.parse_args(argv)
    records = write_envelopes(a.seed, a.out, a.first_file, a.files, a.t0_ms,
                              live=a.live)
    if a.manifest:
        with open(a.manifest, "w") as fh:
            json.dump(records, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
