"""The generator's inputs are a function of the seed alone.

    python3 -m pytest pipeline_bench/tests -q
"""

import filecmp
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import generator  # noqa: E402

T0_MS = 1_700_000_000_000.0


def _data(path):
    out = []
    for line in path.read_text().splitlines():
        try:
            out.append(json.loads(line)["data"])
        except json.JSONDecodeError:
            out.append(None)
    return out


def _write(tmp_path, name, seed, first=0, files=4):
    out = tmp_path / name
    generator.write_envelopes(seed, str(out), first, files, T0_MS)
    return out


def test_same_seed_gives_byte_identical_envelopes(tmp_path):
    a = _write(tmp_path, "a", seed=7)
    b = _write(tmp_path, "b", seed=7)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 4
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors


def test_other_seed_gives_other_envelopes(tmp_path):
    a = _write(tmp_path, "a", seed=7)
    b = _write(tmp_path, "b", seed=8)
    name = generator.file_name(0)
    assert (a / name).read_bytes() != (b / name).read_bytes()


def test_a_file_does_not_depend_on_which_process_writes_it(tmp_path):
    whole = _write(tmp_path, "whole", seed=3, files=6)
    tail = _write(tmp_path, "tail", seed=3, first=4, files=2)
    for f in (4, 5):
        name = generator.file_name(f)
        # the tail run starts its clock at file 4, the whole run at file 0
        assert _data(whole / name) == _data(tail / name)


def test_envelope_mix(tmp_path):
    out = _write(tmp_path, "mix", seed=11, files=40)
    lines = [l for p in sorted(out.iterdir()) for l in p.read_text().splitlines()]
    parsed, malformed = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            malformed += 1
    ids = [e["data"]["id"] for e in parsed]
    en = sum(e["data"]["lang"] == "en" for e in parsed)
    words = [len(e["data"]["text"].split()) for e in parsed]
    assert 0.003 < malformed / len(lines) < 0.03
    assert 0.12 < 1 - len(set(ids)) / len(ids) < 0.28
    assert 0.5 < en / len(parsed) < 0.7
    assert min(words) >= 5 and max(words) <= 40
    stamps = [e["kafka_timestamp"] for e in parsed]
    assert min(stamps) >= T0_MS


def test_ground_truth_is_distinct_wellformed_english_ids(tmp_path):
    out = tmp_path / "gt"
    out.mkdir()
    good = {"data": {"id": "1", "lang": "en", "text": "fine day"}}
    lines = [json.dumps(good), json.dumps(good),
             json.dumps({"data": {"id": "2", "lang": "de", "text": "gut"}}),
             json.dumps({"data": {"id": "3", "lang": "en", "text": "  "}}),
             json.dumps({"data": {"lang": "en", "text": "no id"}}),
             json.dumps({"data": {"id": "4", "lang": "en", "text": "x"}})[:20]]
    (out / "f.jsonl").write_text("\n".join(lines) + "\n")
    assert generator.ground_truth([str(out / "f.jsonl")]) == {"1"}


def test_documents_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        generator.write_documents(seed, str(tmp_path / name), n=200)
    a, b, c = (pq.read_table(tmp_path / n / "documents.parquet")
               for n in "abc")
    assert a.num_rows == 200
    assert a.equals(b)
    assert not a.equals(c)


def test_tweet_rows_are_seeded():
    lex = generator.lexicon_words()
    assert generator.tweet_rows(1, 0, 0, 50, lex) == \
        generator.tweet_rows(1, 0, 0, 50, lex)
    assert generator.tweet_rows(1, 0, 0, 50, lex) != \
        generator.tweet_rows(2, 0, 0, 50, lex)
