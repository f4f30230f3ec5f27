"""SentimentEngine facade: endpoint-for-endpoint behavior of the reference's
Flask service (analyze/store/summary/recent/export/health) on Spark."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def engine(spark, tmp_path, request):
    """Engine over a fresh store; ``indirect`` parametrization with "uri"
    addresses the store as a ``file://`` URI instead of a plain path."""
    from social_media_sentiment_analysis_spark.api import SentimentEngine
    store = tmp_path / "tweets_store"
    if getattr(request, "param", "path") == "uri":
        return SentimentEngine(spark, store.as_uri())
    return SentimentEngine(spark, str(store))


def _tweets(spark, rows):
    return spark.createDataFrame(
        rows, "tweet_id string, text string, processed_at timestamp_ntz")


T0 = dt.datetime(2024, 1, 15, 10, 0, 0)


def _at(h):
    return T0 + dt.timedelta(hours=h)


def test_analyze_matches_reference_thresholds(engine):
    out = {r.cleaned_text: r for r in engine.analyze(
        ["this is great and fast", "slow bad broken", "the sky is there",
         ""]).collect()}
    assert out["this is great and fast"].final_sentiment == "positive"
    assert out["slow bad broken"].final_sentiment == "negative"
    assert out["the sky is there"].final_sentiment == "neutral"
    empty = out[""]
    assert empty.final_sentiment == "neutral"     # U5 canonical record
    assert empty.confidence_score == 0.0


@pytest.mark.parametrize("engine", ["path", "uri"], indirect=True)
def test_store_is_idempotent_and_keyed(engine, spark):
    batch = _tweets(spark, [("t1", "great stuff", _at(0)),
                            ("t2", "bad stuff", _at(1)),
                            ("t2", "bad stuff", _at(1))])   # in-batch dup
    assert engine.store(batch) == 2
    assert engine.store(batch) == 0                          # replay: no-op
    assert engine.store(_tweets(
        spark, [("t3", "more text", _at(2))])) == 1
    assert engine._table().count() == 3


def test_summary_and_recent_and_trailing_window(engine, spark):
    engine.store(_tweets(spark, [
        ("a", "great fast win", _at(0)),       # old (>24h before anchor)
        ("b", "bad slow loss", _at(30)),
        ("c", "great big win", _at(31)),
        ("d", "sky is there", _at(32)),
    ]))
    full = {r.final_sentiment: r.tweet_count
            for r in engine.summary(hours=None).collect()}
    assert full == {"positive": 2, "negative": 1, "neutral": 1}
    # trailing 24h anchored at max(processed_at)=_at(32): drops only 'a'
    last24 = {r.final_sentiment: r.tweet_count
              for r in engine.summary(hours=24).collect()}
    assert last24 == {"positive": 1, "negative": 1, "neutral": 1}

    recent2 = [r.tweet_id for r in engine.recent(limit=2).collect()]
    assert recent2 == ["d", "c"]
    neg = [r.tweet_id
           for r in engine.recent(limit=10, sentiment="negative").collect()]
    assert neg == ["b"]


def test_export_csv_roundtrip(engine, spark, tmp_path):
    engine.store(_tweets(spark, [("x", "great", _at(0)),
                                 ("y", "awful", _at(1))]))
    out = str(tmp_path / "export_csv")
    engine.export(out, fmt="csv", hours=None)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 2
    assert "final_sentiment" in back.columns
    with pytest.raises(ValueError):
        engine.export(out, fmt="parquet")


def test_health(engine, spark):
    h = engine.health()
    assert h["status"] == "healthy" and h["stored_tweets"] == 0
    engine.store(_tweets(spark, [("z", "text", _at(0))]))
    assert engine.health()["stored_tweets"] == 1


def test_sql_passthrough_matches_named_endpoint(engine, spark):
    engine.store(_tweets(spark, [("s1", "great fast win", _at(0)),
                                 ("s2", "slow bad day", _at(1)),
                                 ("s3", "the sky is there", _at(2))]))
    got = engine.sql("""
        SELECT final_sentiment, COUNT(*) AS tweet_count
        FROM tweets GROUP BY final_sentiment
    """).collect()
    want = {r["final_sentiment"]: r["tweet_count"]
            for r in engine.summary(hours=None).collect()}
    assert {r["final_sentiment"]: r["tweet_count"] for r in got} == want
