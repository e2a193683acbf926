"""Shared plumbing: Spark session, scratch space, memory sampling, spans.

Everything the benchmark writes lives under ``.perfbench_out/`` in the
checkout root, including Spark's local dirs and the JVM temp dir.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")


def slots(spare: int = 1) -> int:
    """Spark task slots: ``spare`` cores stay free for the driver (and the
    trickle generator), so they never queue behind a task."""
    return max(1, (os.cpu_count() or 2) - spare)


def pin_environment(scratch: str) -> None:
    """Allocator and temp-dir pins. They must be set before the JVM (and
    through it every Python worker) is spawned, as ``bench.py`` does."""
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 << 20))
    os.environ.setdefault("MALLOC_TOP_PAD_", str(128 << 20))
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = \
        sys.executable
    # workers unpickle functions of the package by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVMs write no performance-data file to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def build_session(scratch: str, n_slots: int, event_log_dir: str | None = None):
    """One local session. ``event_log_dir`` turns on Spark's event log
    (traced mode only)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    b = (SparkSession.builder.master(f"local[{n_slots}]")
         .appName("perfbench")
         # a fixed, pre-touched heap: the JVM's share of resident memory
         # then does not depend on when the heap happened to grow
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch "
                 "-XX:-UsePerfData")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * n_slots))
         .config("spark.default.parallelism", str(2 * n_slots))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
         .config("spark.python.worker.reuse", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.eventLog.enabled", str(bool(event_log_dir)).lower()))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def load_spec() -> dict:
    """``BENCHMARK.json``: the workloads, and each metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants: the Python
    driver, the JVM it spawned, and the JVM's Python workers. Counted as
    proportional set size, so pages that forked workers share with their
    parent count once."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory. Reading
    the JVM's ``smaps_rollup`` takes ~20 ms, so it samples once a second:
    more often takes CPU from the run it measures."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once at the end. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str | None]] = []

    def span(self, name: str, trace_id: str | None = None) -> "_Span":
        return _Span(self, name, trace_id)

    def record(self, name: str, start: float, end: float, *,
               trace_id: str | None = None, parent: str | None = None,
               span_id: str | None = None) -> None:
        """A finished span, or one measured elsewhere (an event log, a
        checkpoint)."""
        if self.enabled:
            self.spans.append({"name": name,
                               "span_id": span_id or uuid.uuid4().hex[:16],
                               "parent": parent, "trace_id": trace_id,
                               "start": start, "end": end})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str,
                 trace_id: str | None) -> None:
        self.tracer, self.name, self.trace_id = tracer, name, trace_id
        self.start = self.end = 0.0

    def __enter__(self) -> "_Span":
        t = self.tracer
        self.id = uuid.uuid4().hex[:16]
        self.parent, inherited = t._stack[-1] if t._stack else (None, None)
        self.trace_id = self.trace_id or inherited
        if t.enabled:
            t._stack.append((self.id, self.trace_id))
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.record(self.name, self.start, self.end, trace_id=self.trace_id,
                     parent=self.parent, span_id=self.id)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def identity_batches(batches):
    """``mapInArrow`` body that returns its input: the Arrow boundary
    alone."""
    yield from batches


def shutdown() -> None:
    """Stop the active session, then the JVM behind it, and wait until
    every process this one started has exited."""
    import signal

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        kids = _children_map().get(os.getpid(), [])
        if not kids:
            return
        time.sleep(0.2)
    for pid in _children_map().get(os.getpid(), []):
        os.kill(pid, signal.SIGKILL)
