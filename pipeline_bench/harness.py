"""Run environment shared by the workloads: pinned Spark settings, a
work directory inside the checkout, the session lifecycle, peak-RSS
sampling and the tracer that times calls into the engine's layers.

Tracing lives here, in the benchmark, around calls into the package; the
package itself carries no tracing code.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
#: The driver heap ceiling (-Xmx), fixed so runs compare; the heap is not
#: pre-touched, so peak RSS follows what the engine uses below it.
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """A directory under the benchmark's ``.tmp`` that holds every store,
    checkpoint, generated file and Spark local dir of one run; removed on
    close."""

    def __init__(self, workload: str):
        root = os.path.join(BENCH_DIR, ".tmp")
        os.makedirs(root, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{workload}-", dir=root)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass   # another run still uses it


def pin_environment(work: WorkDir) -> None:
    """Fix what the engine reads from the environment before it is
    imported: parallelism, driver memory, local and temp dirs, and no
    bytecode files written into the checkout."""
    n = str(cpus())
    local = work.sub("spark-local")
    tmp = work.sub("tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM that spark-submit runs to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True


def start_spark(work: WorkDir):
    from social_media_sentiment_analysis_spark.session import get_spark

    n = cpus()
    return get_spark(
        "pipeline-bench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work.sub('tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)


class RssSampler:
    """Samples the summed RSS of the driver JVM and its Python worker
    processes (forks of ``pyspark.daemon``) and keeps the peak. Other
    descendants are skipped: a JVM child between fork and exec (a shell
    command run by Hadoop) briefly shows the whole JVM's RSS and command
    line."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.pid = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, spark) -> None:
        self.pid = spark.sparkContext._gateway.proc.pid
        if not self._thread.is_alive():
            self._thread.start()

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
        return kids

    @staticmethod
    def _is_python_worker(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                return b"pyspark.daemon" in fh.read()
        except OSError:
            return False

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        if self.pid is None:
            return
        kids = self._children()
        todo, total = list(kids.get(self.pid, ())), self._rss_kb(self.pid)
        while todo:
            pid = todo.pop()
            if self._is_python_worker(pid):
                total += self._rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def close(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


class Tracer:
    """Spans around calls into the engine's layers.

    With tracing off, ``span`` only runs the body. With tracing on it
    records name, start, end and the number of Spark jobs the call ran,
    counted by giving the call its own job group."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{name}-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append({"name": name, "start": t0, "end": t1,
                                   "jobs": jobs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def jobs(self, name: str) -> list[int]:
        return [s["jobs"] for s in self.spans if s["name"] == name]
