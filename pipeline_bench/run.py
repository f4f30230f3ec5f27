"""Pipeline benchmark: run one workload against the engine and print its
metrics.

    python3 pipeline_bench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Workloads: ``ingest`` (streaming catch-up + live) and ``serve_mixed``
(SentimentEngine reads and writes, then registry queries).
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it and
``pipeline_bench/results/<workload>-trace<N>.json`` hold the details:
sample counts, the workload's own metric names, the environment, and in a
traced run the spans and the tracing overhead. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))
sys.dont_write_bytecode = True

WORKLOADS = ("ingest", "serve_mixed")


class Context:
    def __init__(self, args, work, spark, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.marks: list[tuple[str, float]] = []

    def mark(self, phase: str) -> None:
        """Start ``phase``; the details report each phase's wall time."""
        self.marks.append((phase, time.perf_counter()))

    def phases(self) -> dict[str, float]:
        ends = [t for _, t in self.marks[1:]] + [time.perf_counter()]
        return {name: end - t for (name, t), end in zip(self.marks, ends)}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Run one pipeline benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_present() -> bool:
    try:
        import social_media_sentiment_analysis_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable: {e}", file=sys.stderr)
        return False
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _engine_present():
        return 2

    import harness
    import metrics

    work = harness.WorkDir(args.workload)
    spark = None
    rss = harness.RssSampler()
    try:
        harness.pin_environment(work)
        import pyspark

        if args.workload == "ingest":
            import ingest as workload
        else:
            import serve as workload

        # set-up: process start (imports and JVM launch included) until the
        # workload's warm-up has run
        spark = harness.start_spark(work)
        t_session = time.perf_counter()
        rss.watch(spark)
        ctx = Context(args, work, spark, harness.Tracer(bool(args.trace), spark))
        workload.warm(ctx)
        t_warm = time.perf_counter()
        setup_s = t_warm - T_PROCESS_START
        session_layer = {"session.get_spark_s": t_session - T_PROCESS_START,
                         "session.warmup_s": t_warm - t_session}
        ctx.mark("inputs")
        out = workload.run(ctx)
        ctx.mark("stop")
    finally:
        peak_rss_mb = rss.close()
        if spark is not None:
            harness.stop_spark(spark)
        work.close()
    phases = dict(ctx.phases(), setup=setup_s)

    failed, attempted = out["failed"], out["attempted"]
    e2e = dict(out["e2e"], setup_s=setup_s, peak_rss_mb=peak_rss_mb)
    layer = dict(session_layer, **out["layer"],
                 error_rate=metrics.error_rate(failed, attempted))
    if args.trace:
        shown = {k: {"value": layer.get(k, 0), "unit": u}
                 for k, u in metrics.PER_LAYER.items()}
    else:
        shown = {k: {"value": e2e[k], "unit": u}
                 for k, u in metrics.END_TO_END.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": harness.cpus(),
        "master": f"local[{harness.cpus()}]", "pyspark": pyspark.__version__,
        "end_to_end": e2e, "per_layer": layer, "workload_metrics": out["detail"],
        "phases_s": phases,
    }
    os.makedirs(harness.RESULTS_DIR, exist_ok=True)
    base = os.path.join(harness.RESULTS_DIR, f"{args.workload}-trace")
    if args.trace:
        try:
            with open(base + "0.json") as fh:
                untraced = json.load(fh)["end_to_end"]
            detail["tracing_overhead"] = {
                k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        except (OSError, ValueError, KeyError):
            detail["tracing_overhead"] = None   # no untraced run to compare
        detail["spans"] = ctx.tracer.spans
    with open(base + f"{args.trace}.json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    print(json.dumps({k: v for k, v in detail.items() if k != "spans"},
                     default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
