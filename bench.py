"""Benchmark harness: runs the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall-clock seconds.

Each query is executed with a count-style action that forces full evaluation
without collecting result rows to the driver (write.format("noop")).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from social_media_sentiment_analysis_spark.queries.registry import QUERIES
from social_media_sentiment_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the reference surface (aggregation, enrichment scan, top-k,
# time-window, rollup, export) + one representative per engine extension
# (star join, exact dedup, knn, as-of, sessionization, text stats, media).
BENCH_QUERIES = [
    "sentiment_summary",
    "sentiment_enrich",
    "recent_tweets",
    "trailing_window",
    "hourly_rollup",
    "export",
    "revenue_by_region",
    "pricing_summary",
    "priority_lineitem_revenue",
    "dedup_exact",
    "curation_funnel",
    "curation_pipeline",
    "contamination",
    "bloom_decontamination",
    "knn_bruteforce",
    "asof_latest_order",
    "sessionization",
    "text_stats",
    "media_features",
    "running_total",
    "type_hour_cube",
    "word_frequency",
    "error_impact",
    "gapfill_hourly",
    "tfidf_keywords",
    "vocab_pairs",
    "pack_sequences",
    "pii_redact",
    "shipping_priority",
    "gopher_quality",
    "nation_trade_flows",
    "promo_revenue",
    "dataset_split",
    "heavy_hitters",
    "rolling_active_users_hll",
    "quantile_sketch",
    "excess_volume_suppliers",
    "bigram_logprob",
    "hybrid_search",
    "media_phash",
    "dsir_select",
    "dedup_spans",
    "ccnet_buckets",
    "streaming_hourly_rollup",
    "streaming_sentiment_summary",
    "dedup_clusters",
    "knn_ivf",
    # round 3 additions: the pure-JVM lexicon plan, the distributed-ntile
    # rewrites, and the VARIANT open-schema path
    "sentiment_enrich_relational",
    "customer_spend_quartiles",
    "rfm_segments",
    "variant_extract",
    "variant_shred",
    # round 5 additions: the zero-corpus-shuffle entropy rewrite and the
    # two new fingerprint/vocab-profile operators
    "char_entropy",
    "winnowing_fingerprints",
    "zipf_slope",
    "winnow_containment",
    "source_overlap",
    # round 6 (continuation): exact-substring dedup as a corpus rewrite
    # and the sketch-state member of the streaming=batch family
    "dedup_rewrite",
    "streaming_rolling_distinct_hll",
    "streaming_reservoir_sample",
    "streaming_heavy_hitters",
    # round 7: the vector-state streaming=batch member
    "streaming_dedup_embedding",
    # round 8: the same sink in its 100 TB blocking mode (LSH bucket),
    # and the high-recall OR-of-bands batch path
    "streaming_dedup_embedding_lsh",
    "dedup_embedding_multiband",
    "streaming_dedup_embedding_multiband",
]


N_PASSES = 3


def run() -> dict:
    spark = get_spark("bench")
    # keep stderr to genuine errors so the recorded bench tail is signal
    spark.sparkContext.setLogLevel("ERROR")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    names = [n for n in BENCH_QUERIES if n in QUERIES]
    # N_PASSES timed passes per query; report the per-query minimum. Pass 1
    # absorbs first-run cost (JVM, file listing, per-plan codegen compile);
    # passes 2-3 give two steady-state samples so one hypervisor-steal burst
    # (observed: 3-5x uniform inflation) can't define a query's number. The
    # session is warmed before timing so pass 1 isn't also paying executor
    # and Python-worker startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    timings: dict[str, float] = {}
    for _ in range(N_PASSES):
        for name in names:
            start = time.perf_counter()
            QUERIES[name].builder(spark, SF_DIR) \
                .write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
    total = round(sum(timings.values()), 3)
    # scaling-contract legibility (r9 verdict #2): record the core count,
    # master and effective shuffle-partition count IN the JSON line so the
    # driver's low-core scaling probe can verify the session honored
    # $SPARK_GRAFT_CPUS instead of inferring it from timing ratios
    # (additions-only; the contract keys are untouched)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    master = spark.sparkContext.master
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.stop()
    return {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "master": master,
        "shuffle_partitions": shuffle_parts,
    }


if __name__ == "__main__":
    print(json.dumps(run()))
