"""SparkSession factory tuned for this engine.

The driver harness passes its own SparkSession into ``__spark_entry__.entry``;
this factory is for tests, bench.py, and standalone use. Config choices are
scale-oriented: AQE on (runtime coalesce + skew-join splitting), Arrow for any
pandas exchange, and a shuffle-partition count equal to the local core count
(on a real cluster you'd size it to ~2-3x total cores or rely on AQE
coalescing from a higher initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "social-media-sentiment-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults favor the declarative path: adaptive execution, broadcast joins
    for small dims, vectorized parquet reads, Arrow-batched Python exchange.
    Without ``master``/``shuffle_partitions`` both follow $SPARK_GRAFT_CPUS,
    else the machine's core count.
    """
    # Python UDF workers (pandas UDFs, mapInPandas) import this package by
    # name in their own processes and inherit PYTHONPATH from the JVM env —
    # export the repo root BEFORE the JVM starts so the engine works from
    # any cwd, not just the repo checkout. (Sessions we don't create are
    # covered by __spark_entry__._ship_package via addPyFile.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH") else repo_root)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
