"""The two workloads: set-up (off the clock), warm-up, timed loop, checks.

``drain`` is a closed loop (one operation at a time, the next starts when
the previous one is checked and cleaned up); ``trickle`` is an open loop
whose generator lands files on a fixed schedule.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

import duckdb
import pyarrow as pa

import common
import inputs

# inputs are sized so that one untraced 25-second run, set-up included,
# takes ~55 s on a 4-core host, and a series of 48 runs stays within an
# hour
DRAIN_ROWS, DRAIN_FILES, DRAIN_WARM_FILES = 60000, 34, 3
# the per-batch path (planning, source log, writes) runs slower for the
# first ~10 s of a session, so the trickle warm-up lands 8 s of files
TRICKLE_FILE_ROWS, TRICKLE_RATE, TRICKLE_WARM_FILES = 400, 10.0, 80
TRICKLE_MIN_FILES = 100
TRICKLE_LATENCY_LIMIT_S = 30.0
MIN_ITERATIONS = 3


class Context:
    """What every workload gets: the live session, its scratch directory,
    the seed, and the tracer."""

    def __init__(self, spark, scratch: str, seed: int, seconds: float,
                 tracer) -> None:
        self.spark, self.scratch, self.seed = spark, scratch, seed
        self.seconds, self.tracer = seconds, tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


class Outcome:
    """One timed loop's end-to-end figures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.seq_rates: list[float] = []    # sequences/s, one per operation
        self.latencies: list[float] = []    # seconds, one per input file
        self.durations: list[float] = []    # seconds, one per operation
        self.gaps: list[float] = []         # closed-loop client lateness
        self.t_start = self.t_end = 0.0     # the timed loop, epoch seconds
        self.backlog_files_max = 0          # trickle only


def end_to_end(out: Outcome, setup_s: float) -> dict:
    """(value, sample count) per end-to-end metric but ``peak_rss_mb``,
    which the caller samples."""
    lat = out.latencies
    if len(lat) < 100:
        # no percentile without ten samples beyond it
        raise RuntimeError(f"{len(lat)} latency samples cannot support p90")
    deciles = statistics.quantiles(lat, n=10, method="inclusive")
    return {
        "setup_s": (setup_s, 1),
        "seq_per_s": (statistics.median(out.seq_rates), len(out.seq_rates)),
        "latency_p50_s": (deciles[4], len(lat)),
        "latency_p90_s": (deciles[8], len(lat)),
    }


def measure(name: str, seed: int, seconds: float, scratch: str, *,
            tracer=None, event_log_dir: str | None = None, listener=None):
    """Set up, warm up and run one workload in a fresh session; returns
    (end-to-end figures without ``peak_rss_mb``, outcome, workload). The
    session is left open. Inputs are generated while the JVM starts."""
    t0 = time.time()
    started: dict = {}
    jvm = threading.Thread(target=lambda: started.update(
        spark=common.build_session(scratch, WORKLOADS[name].slots,
                                   event_log_dir)))
    jvm.start()
    ctx = Context(None, scratch, seed, seconds,
                  tracer or common.Tracer(False))
    wl = WORKLOADS[name](ctx)
    try:
        wl.setup()
        t1 = time.time()
    finally:
        jvm.join()  # a failed set-up still leaves a session to stop
    if "spark" not in started:
        raise RuntimeError("the Spark session did not start")
    ctx.spark = started["spark"]
    if listener is not None:
        ctx.spark.streams.addListener(listener)
    t2 = time.time()
    wl.warm_up()
    setup_s = time.time() - t0
    print(f"{name} set-up: inputs {t1 - t0:.2f} s, session ready after "
          f"{t2 - t0:.2f} s, warm-up {time.time() - t2:.2f} s",
          file=sys.stderr)
    out = wl.run(seconds)
    return end_to_end(out, setup_s), out, wl


def _baseline_path(name: str) -> str:
    return os.path.join(common.OUT, "baseline", f"{name}.json")


def save_baseline(name: str, e2e: dict) -> None:
    """Keep the last untraced figures of a workload, for the tracing
    overhead a later traced run reports."""
    os.makedirs(os.path.dirname(_baseline_path(name)), exist_ok=True)
    with open(_baseline_path(name), "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f)


def load_baseline(name: str) -> dict | None:
    try:
        with open(_baseline_path(name)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _closed_loop(seconds: float, op, out: Outcome) -> None:
    """Run ``op(i)`` back to back for ``seconds`` (at least
    ``MIN_ITERATIONS`` times). ``op`` returns the span of its timed region
    and does its own checks and clean-up after it; the time from one
    region's end to the next one's start is the client's lateness."""
    t_start = time.time()
    last = None
    i = 0
    while i < MIN_ITERATIONS or time.time() - t_start < seconds:
        sp = op(i)
        if last is not None:
            out.gaps.append(sp.start - last.end)
        last = sp
        i += 1
    out.t_start, out.t_end = t_start, time.time()


def _wal_entries(ck: str) -> dict[int, list[str]]:
    """batch id -> input file names, from the file source's log (plain
    per-batch files and the cumulative ``.compact`` ones)."""
    d = os.path.join(ck, "sources", "0")
    out: dict[int, list[str]] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        bid = int(name.split(".")[0])
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                e = json.loads(line)
                b = e.get("batchId", bid)
                out.setdefault(b, []).append(os.path.basename(e["path"]))
    return out


def _commit_times(ck: str) -> dict[int, float]:
    """batch id -> the instant its commit-log entry was written."""
    d = os.path.join(ck, "commits")
    return {int(n): os.path.getmtime(os.path.join(d, n))
            for n in os.listdir(d) if n.isdigit()}


class TokenFiles:
    """Staged token-table files plus their per-file expectations."""

    def __init__(self, seed: int, rows: int, dest: str, n_files: int,
                 prefix: str) -> None:
        parts = inputs.write_token_files(inputs.token_table(seed, rows), dest,
                                         n_files, prefix)
        self.paths = [os.path.join(dest, f"{prefix}{i:04d}.parquet")
                      for i in range(n_files)]
        self.expect = [inputs.token_file_expectation(p) for p in parts]
        self.index = pa.table({
            "doc_id": pa.array([d for e in self.expect for d in e["doc_ids"]],
                               pa.string()),
            "file_idx": pa.array([i for i, e in enumerate(self.expect)
                                  for _ in e["doc_ids"]], pa.int32())})
        self.rows = sum(e["rows"] for e in self.expect)

    def failed_files(self, out_dir: str, files: list[int]) -> set[int]:
        """Indices among ``files`` whose committed rows differ from the
        expectation: lost, duplicated or changed rows, or a wrong number
        of quarantined rows. Rows of unknown documents fail every file."""
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        con.register("idx", self.index)
        got: dict[int, tuple] = {}
        sink = os.path.join(out_dir, "cleaned", "batch_id=*", "*.parquet")
        rows = con.execute(f"""
            SELECT i.file_idx, count(*), count(DISTINCT c.doc_id),
                   sum(c.n_tok_clean), sum(list_sum(c.tokens_clean)),
                   sum(c.n_detected)
            FROM read_parquet('{sink}', hive_partitioning=false) c
            LEFT JOIN idx i USING (doc_id) GROUP BY 1""").fetchall()
        for r in rows:
            got[r[0]] = tuple(int(x) for x in r[1:])
        quar: dict[int, int] = {}
        qdir = os.path.join(out_dir, "quarantine")
        if os.path.isdir(qdir) and any(n.startswith("batch_id=")
                                       for n in os.listdir(qdir)):
            q = os.path.join(qdir, "batch_id=*", "*.parquet")
            for fi, n in con.execute(f"""
                    SELECT i.file_idx, count(*)
                    FROM read_parquet('{q}', hive_partitioning=false) c
                    LEFT JOIN idx i USING (doc_id) GROUP BY 1""").fetchall():
                quar[fi] = int(n)
        con.close()
        if None in got or None in quar:
            return set(files)
        bad = set()
        for i in files:
            e = self.expect[i]
            want = (e["rows"], e["rows"], e["tokens_out"], e["token_sum"],
                    e["detected"])
            if got.get(i, (0, 0, 0, 0, 0)) != want or quar.get(i, 0) != e["bad"]:
                bad.add(i)
        return bad


class Drain:
    """Closed loop of cold-checkpoint ``availableNow`` drains of the
    staged token files through ``single_pass_pipeline``'s defaults."""

    name = "drain"
    slots = common.slots()

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        self.src = self.ctx.path("src")
        self.files = TokenFiles(self.ctx.seed, DRAIN_ROWS, self.src,
                                DRAIN_FILES, "f")

    def drain(self, tag: str, out: Outcome | None, src: str = ""):
        """One drain of ``src`` (default: all staged files) into a fresh
        output and checkpoint; returns its span."""
        from hidden_characters_detector_spark.streaming import pipeline

        work = common.fresh_dir(self.ctx.path("work"))
        with self.ctx.tracer.span("drain", trace_id=tag) as sp:
            with self.ctx.tracer.span("streaming.pipeline.drain"):
                q = pipeline.single_pass_pipeline(
                    self.ctx.spark, src or self.src, os.path.join(work, "out"),
                    os.path.join(work, "ck"), query_name=f"drain-{tag}")
                q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        if out is not None:
            n = len(self.files.paths)
            out.attempted += 1
            bad = self.files.failed_files(os.path.join(work, "out"),
                                          list(range(n)))
            out.failed += bool(bad)
            out.durations.append(sp.seconds)
            print(f"drain {tag}: {sp.seconds:.2f} s", file=sys.stderr)
            out.seq_rates.append(self.files.rows / sp.seconds)
            out.latencies.extend([sp.seconds] * n)
        shutil.rmtree(work)
        return sp

    def warm_up(self) -> None:
        """A drain of a few files takes the cold costs (JVM compilation,
        worker start-up), which are per process, not per row; the first
        full-size drain after it is still slow, so it is warm-up too."""
        warm = common.fresh_dir(self.ctx.path("warm"))
        for p in self.files.paths[:DRAIN_WARM_FILES]:
            os.link(p, os.path.join(warm, os.path.basename(p)))
        self.drain("warm0", None, warm)
        self.drain("warm1", None)

    def run(self, seconds: float) -> Outcome:
        out = Outcome()
        _closed_loop(seconds, lambda i: self.drain(f"it{i}", out), out)
        return out


class Trickle:
    """Open loop: a generator thread renames pre-built small token files
    into the stream's source directory at ``TRICKLE_RATE`` files/s while
    the pipeline runs with its default processing-time trigger."""

    name = "trickle"
    # each Python UDF task keeps more than one core busy (the JVM feeding
    # Arrow batches and the Python worker), and a micro-batch is a chain of
    # short sequential steps that queue behind them: on a 4-core host, five
    # alternating pairs of runs gave a median latency of 2.25-2.67 s at
    # nproc - 1 slots against 2.10-2.39 s at nproc - 2
    slots = common.slots(spare=2)

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        self.n_timed = max(TRICKLE_MIN_FILES,
                           math.ceil(ctx.seconds * TRICKLE_RATE))
        n = TRICKLE_WARM_FILES + self.n_timed
        self.files = TokenFiles(ctx.seed, n * TRICKLE_FILE_ROWS,
                                ctx.path("pending"), n, "t")
        self.src = common.fresh_dir(ctx.path("src"))
        self.work = common.fresh_dir(ctx.path("work"))
        self.landed: dict[int, float] = {}
        self.due: dict[int, float] = {}
        self.query = None

    def _land(self, files: list[int], t0: float) -> None:
        """Generator: land file ``files[k]`` at ``t0 + k / rate``, never
        waiting on the pipeline."""
        for k, i in enumerate(files):
            due = t0 + k / TRICKLE_RATE
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = os.path.basename(self.files.paths[i])
            os.replace(self.files.paths[i], os.path.join(self.src, name))
            self.due[i], self.landed[i] = due, time.time()

    def _episode(self, files: list[int]) -> tuple[float, float]:
        """Land ``files`` on schedule and wait until all are committed;
        returns (first due time, end)."""
        t0 = time.time() + 0.05
        gen = threading.Thread(target=self._land, args=(files, t0))
        gen.start()
        gen.join()
        self.query.processAllAvailable()
        return t0, time.time()

    def start_query(self) -> None:
        from hidden_characters_detector_spark.streaming import pipeline

        self.query = pipeline.single_pass_pipeline(
            self.ctx.spark, self.src, os.path.join(self.work, "out"),
            os.path.join(self.work, "ck"), trigger_available_now=False,
            query_name="trickle")

    def warm_up(self) -> None:
        self.start_query()
        self._episode(list(range(TRICKLE_WARM_FILES)))

    def run(self, seconds: float) -> Outcome:
        out = Outcome()
        files = list(range(TRICKLE_WARM_FILES,
                           TRICKLE_WARM_FILES + self.n_timed))
        with self.ctx.tracer.span("trickle", trace_id="timed"):
            out.t_start, out.t_end = self._episode(files)
        self.query.stop()
        ck = os.path.join(self.work, "ck")
        commit = _commit_times(ck)
        batch_of = {name: bid for bid, names in _wal_entries(ck).items()
                    for name in names}
        done = {i: commit[batch_of[os.path.basename(self.files.paths[i])]]
                for i in files}
        for i in files:
            self.ctx.tracer.record("trickle.file", self.due[i], done[i],
                                   trace_id=os.path.basename(
                                       self.files.paths[i]))
        latency = {i: done[i] - self.due[i] for i in files}
        bad = self.files.failed_files(os.path.join(self.work, "out"), files)
        late = {i for i in files if latency[i] > TRICKLE_LATENCY_LIMIT_S}
        out.attempted = len(files)
        out.failed = len(bad | late)
        out.latencies = [latency[i] for i in files]
        rows = sum(self.files.expect[i]["rows"] for i in files)
        span = max(done.values()) - min(self.due[i] for i in files)
        out.seq_rates = [rows / span]
        out.durations = [span]
        # files landed but not yet committed, just before each commit
        landed = [self.landed[i] for i in files]
        out.backlog_files_max = max(
            sum(t < e for t in landed) - sum(d < e for d in done.values())
            for e in set(done.values()))
        out.gaps = [self.landed[i] - self.due[i] for i in files]
        return out


WORKLOADS = {w.name: w for w in (Drain, Trickle)}
