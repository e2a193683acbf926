"""Traced mode: the per-layer metrics.

One traced run, in one process:

1. the untraced figures the tracing overhead is taken against are those
   of the last ``--trace 0`` run of the workload in this checkout or, if
   there is none, measured first in the same process;
2. a session with Spark's event log on and a ``ProgressRecorder``
   attached sets up, warms up and runs the timed loop, with spans, for at
   most ``TRACED_SECONDS``;
3. isolated calls into each layer run on this run's inputs, each tagged
   with a job description;
4. the session stops, which flushes the event log, and only then is the
   log parsed;
5. a one-slot session repeats the probe drain for the scaling figure.

Spans (name, start, end, parent, trace id per iteration) stay in memory and
are written to ``.perfbench_out/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import common
import inputs
import workloads

PROBE_REPS = 3
# the curation stages are probed on a corpus of their own: 3,000 documents
# with 1% marker characters, and 1,200 eval items of 300 characters, ~337k
# distinct 20-gram hashes, so that the decontam probe's hash array and
# prefilter table both exceed a core's 2 MiB L2; 0.5% of the documents
# carry planted eval text
STAGE_PROBE_DOCS, STAGE_MARKER_RATE = 3000, 0.01
EVAL_ITEMS, CONTAMINATED_SHARE = 1200, 0.005
# the timed loop of a traced run (and of the untraced run measured in its
# place when there is none to compare with) is at most this long, which
# keeps a traced run within a few minutes
TRACED_SECONDS = 10.0


class Probe:
    """Isolated, tagged calls into single layers of the live session."""

    def __init__(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def time(self, name: str, fn, reps: int = PROBE_REPS) -> float:
        """Median seconds of ``fn()``; every Spark job it starts carries
        the job description ``probe:<name>``."""
        sc = self.spark.sparkContext
        times = []
        for r in range(reps):
            sc.setJobDescription(f"probe:{name}")
            with self.tracer.span(name, trace_id=f"probe-{name}-{r}") as sp:
                fn()
            times.append(sp.seconds)
        sc.setJobDescription(None)
        return statistics.median(times)


def token_layers(probe: Probe, token_dir: str, scratch: str) -> dict:
    """Scan, Arrow boundary, clean kernel under Spark, and the sink."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators.clean import clean_detect
    from hidden_characters_detector_spark.sinks.exactly_once import \
        write_batch_partition
    from hidden_characters_detector_spark.streaming.pipeline import \
        TOKEN_STREAM_SCHEMA

    spark = probe.spark
    tok = spark.read.schema(TOKEN_STREAM_SCHEMA).parquet(token_dir)
    scan = probe.time("sources.scan", lambda: tok.agg(
        F.count("*"), F.sum("n_tok")).collect())
    ident = tok.mapInArrow(common.identity_batches, tok.schema)
    boundary = probe.time("operators.clean.boundary", lambda: ident.agg(
        F.count("*"), F.sum("n_tok")).collect())
    cleaned = clean_detect(tok)
    clean = probe.time("operators.clean.clean_detect", lambda: cleaned.agg(
        F.count("*"), F.sum("n_detected"), F.sum("n_tok_clean")).collect())
    pre = cleaned.withColumn("partition_id",
                             F.spark_partition_id()).localCheckpoint()
    dest = os.path.join(scratch, "probe_sink")

    def write():
        common.fresh_dir(dest)
        write_batch_partition(pre, 0, dest)

    write_s = probe.time("sinks.exactly_once.write", write)
    files = glob.glob(os.path.join(dest, "batch_id=0", "*.parquet"))
    out = {
        "sources.scan_s": scan,
        "operators.clean.boundary_s": boundary - scan,
        "operators.clean.clean_detect_s": clean - boundary,
        "sinks.exactly_once.write_s": write_s,
        "sinks.exactly_once.bytes_written": sum(map(os.path.getsize, files)),
        "sinks.exactly_once.files_written": len(files),
    }
    shutil.rmtree(dest)
    return out


def kernel_layer(tracer, batches: list[tuple[np.ndarray, np.ndarray]]) -> dict:
    """``kernel.clean_flat`` on the driver, one thread, over Arrow-batch
    sized inputs dumped from this run's data."""
    from hidden_characters_detector_spark.functions import kernel

    times = []
    for r in range(PROBE_REPS):
        with tracer.span("functions.kernel.clean_flat",
                         trace_id=f"probe-kernel-{r}"):
            t0 = time.perf_counter()
            res = [kernel.clean_flat(t, o, kernel.FULL_CLEAN)
                   for t, o in batches]
            times.append(time.perf_counter() - t0)
    n_in = sum(t.size for t, _ in batches)
    s = statistics.median(times)
    return {"functions.kernel.clean_flat_s": s,
            "functions.kernel.ns_per_token": s / n_in * 1e9,
            "functions.kernel.tokens_in": n_in,
            "functions.kernel.tokens_out": sum(r.out_tokens.size for r in res),
            "functions.kernel.markers": sum(int(r.n_detected.sum())
                                            for r in res)}


def _batches_of(flat: np.ndarray, offsets: np.ndarray, rows: int = 20000):
    """Split one flat token array into Arrow-batch sized pieces."""
    out = []
    for a in range(0, len(offsets) - 1, rows):
        b = min(a + rows, len(offsets) - 1)
        lo, hi = offsets[a], offsets[b]
        out.append((flat[lo:hi], offsets[a:b + 1] - lo))
    return out


def token_batches(paths: list[str]):
    col = pa.concat_tables([pq.read_table(p, columns=["tokens"])
                            for p in paths]).column("tokens").combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    return _batches_of(flat, np.concatenate([[0], np.cumsum(lens)]))


def curate_layers(probe: Probe, docs_dir: str, eval_dir: str) -> dict:
    """Each curation stage alone, on its pre-materialised input."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators.clean import \
        clean_documents
    from hidden_characters_detector_spark.operators.decontam import (
        decontaminate, doc_shingle_hashes)
    from hidden_characters_detector_spark.operators.line_dedup import \
        dedup_lines

    spark = probe.spark
    docs = spark.read.parquet(docs_dir)
    ev = spark.read.parquet(eval_dir).withColumnRenamed("text", "text_dedup")

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    cleaned = clean_documents(docs, "text")
    clean_s = probe.time("operators.clean.clean_documents", noop(cleaned))
    cleaned = cleaned.localCheckpoint()
    deduped = dedup_lines(cleaned, "text_clean")
    dedup_s = probe.time("operators.line_dedup.dedup_lines", noop(deduped))
    deduped = deduped.localCheckpoint()
    kept = decontaminate(deduped, ev, text_col="text_dedup")
    decon_s = probe.time("operators.decontam.decontaminate", noop(kept))
    lines = deduped.agg(F.sum("n_lines"), F.sum("n_lines_dropped")).first()
    return {
        "operators.clean.clean_documents_s": clean_s,
        "operators.line_dedup.dedup_lines_s": dedup_s,
        "operators.line_dedup.lines_dropped_ratio": lines[1] / lines[0],
        "operators.decontam.decontaminate_s": decon_s,
        "operators.decontam.eval_hashes": doc_shingle_hashes(
            ev, "text_dedup").select("shingle_hash").distinct().count(),
        "operators.decontam.docs_dropped": deduped.count() - kept.count(),
    }


# ---------------------------------------------------------------- event log


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class EventLog:
    """The parts of Spark's event log the per-layer metrics need."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        # accumulator id -> (metric name, metric type)
        self.python_acc: dict[int, tuple[str, str]] = {}
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _plan_metrics(self, node: dict) -> None:
        if "MapInArrow" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                self.python_acc[m["accumulatorId"]] = (m["name"],
                                                       m["metricType"])
        for child in node.get("children", []):
            self._plan_metrics(child)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties", {})
            self.jobs[e["Job ID"]] = {
                "time": e["Submission Time"] / 1000,
                "desc": props.get("spark.job.description") or ""}
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "start": info["Launch Time"] / 1000,
                "end": info["Finish Time"] / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "shuffle_read": rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0),
                "acc": {a["ID"]: a.get("Update", 0)
                        for a in info.get("Accumulables", [])}})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "start": e["time"] / 1000, "end": None,
                "plan": e.get("physicalPlanDescription", "")}
            self._plan_metrics(e.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(e.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["end"] = e["time"] / 1000

    def tasks_between(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["start"] and t["end"] <= t1]

    def tasks_of(self, desc: str) -> list[dict]:
        return [t for t in self.tasks
                if self.jobs[self.stage_job[t["stage"]]]["desc"] == desc]

    def python_metric(self, tasks: list[dict], name: str) -> float:
        """Sum of one Python SQL metric of MapInArrow nodes over ``tasks``,
        in bytes or seconds."""
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        ids = {i: scale.get(kind, 1.0)
               for i, (n, kind) in self.python_acc.items() if n == name}
        return sum(float(v) * ids[i] for t in tasks
                   for i, v in t["acc"].items() if i in ids)

    def sql_between(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.sql.values()
                if s["end"] and t0 <= s["start"] and s["end"] <= t1]


SQL_SPANS = {"sink": "sinks.exactly_once.write",
             "quarantine": "streaming.pipeline.quarantine_scan",
             "density": "streaming.pipeline.density",
             "other": "spark.sql.execution"}


def sql_kind(s: dict) -> str:
    """Which layer a SQL execution inside a micro-batch belongs to, from
    the output path its plan writes."""
    plan = s["plan"]
    for marker, kind in (("/quarantine/", "quarantine"),
                         ("/density/", "density"), ("/cleaned/", "sink")):
        if marker in plan:
            return kind
    return "other"


def exchange_layers(log: EventLog, t0: float, t1: float, n_slots: int) -> dict:
    tasks = log.tasks_between(t0, t1)
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return {
        "exchange.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "exchange.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "exchange.spill_bytes": sum(t["spill"] for t in tasks),
        "exchange.task_skew": max(widest) / med if med > 0 else 1.0,
        "jvm.gc_s": sum(t["gc_s"] for t in tasks),
        "executor.cpu_share": sum(t["cpu_s"] for t in tasks)
        / ((t1 - t0) * n_slots),
    }


def streaming_layers(log: EventLog, progress: list[dict], t0: float,
                     t1: float) -> dict:
    """Per-micro-batch figures from the progress events and the event log
    of the data batches that started between ``t0`` and ``t1``."""
    data = [p for p in progress if int(p.get("numInputRows", 0)) > 0
            and t0 <= _epoch(p["timestamp"]) <= t1]
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in data]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in data]
    jobs, quar, dens, cover = [], [], [], []
    for p, tr, ad in zip(data, trig, add):
        b0 = _epoch(p["timestamp"])
        b1 = b0 + tr + 0.01
        jobs.append(sum(b0 <= j["time"] <= b1 for j in log.jobs.values()))
        sqls = log.sql_between(b0, b1)
        quar.append(sum(s["end"] - s["start"] for s in sqls
                        if sql_kind(s) == "quarantine"))
        dens.append(sum(s["end"] - s["start"] for s in sqls
                        if sql_kind(s) == "density"))
        # the micro-batch's own execution encloses the writes inside
        # foreachBatch, so only the classified writes are summed
        cover.append((sum(s["end"] - s["start"] for s in sqls
                          if sql_kind(s) != "other") + tr - ad) / tr)
    n_in = sum(int(p["numInputRows"]) for p in data)
    n_q = sum(int(p.get("observedMetrics", {}).get("clean_metrics", {})
                  .get("n_quarantined") or 0) for p in data)
    return {
        "streaming.pipeline.batches": len(data),
        "streaming.pipeline.batch_s_p50": statistics.median(trig),
        "streaming.pipeline.add_batch_s_p50": statistics.median(add),
        "streaming.pipeline.overhead_s_p50": statistics.median(
            [a - b for a, b in zip(trig, add)]),
        "streaming.pipeline.jobs_per_batch": sum(jobs) / len(data),
        "streaming.pipeline.quarantine_scan_s": statistics.median(quar),
        "streaming.pipeline.density_s": statistics.median(dens),
        "streaming.pipeline.quarantine_useful_ratio": n_q / n_in,
        "_batch_cover": statistics.median(cover),
    }


# ------------------------------------------------------------- traced run


def _probe_inputs(wl, scratch: str, seed: int):
    """(token files, kernel batches, docs dir, eval dir) for the probes:
    the workload's own token files, and a corpus for the curation
    stages."""
    docs, ev, _ = inputs.documents(
        seed, STAGE_PROBE_DOCS, marker_rate=STAGE_MARKER_RATE,
        n_eval=EVAL_ITEMS,
        n_contaminated=int(STAGE_PROBE_DOCS * CONTAMINATED_SHARE))
    inputs.write_table(docs, os.path.join(scratch, "docs", "d.parquet"))
    inputs.write_table(ev, os.path.join(scratch, "eval", "e.parquet"))
    paths = sorted(glob.glob(os.path.join(wl.src, "*.parquet")))
    return paths, token_batches(paths), os.path.join(scratch, "docs"), \
        os.path.join(scratch, "eval")


def _probe_drain(spark, tracer, token_paths: list[str], scratch: str,
                 tag: str) -> float:
    """One ``availableNow`` drain of ``token_paths``; returns seconds."""
    from hidden_characters_detector_spark.streaming import pipeline

    src = common.fresh_dir(os.path.join(scratch, "probe_src"))
    for p in token_paths:
        os.link(p, os.path.join(src, os.path.basename(p)))
    work = common.fresh_dir(os.path.join(scratch, "probe_work"))
    with tracer.span("streaming.pipeline.drain", trace_id=tag) as sp:
        q = pipeline.single_pass_pipeline(
            spark, src, os.path.join(work, "out"), os.path.join(work, "ck"),
            query_name=tag)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"probe drain failed: {q.exception()}")
    shutil.rmtree(work)
    return sp.seconds


def traced(args, scratch: str) -> tuple[dict, int, int]:
    """(per-layer metrics with sample counts, operations attempted,
    operations failed) of one traced run."""
    from hidden_characters_detector_spark.streaming.metrics import \
        ProgressRecorder

    seconds = min(args.seconds, TRACED_SECONDS)
    untraced = workloads.load_baseline(args.workload)
    if untraced is None:
        e2e, _, wl = workloads.measure(args.workload, args.seed, seconds,
                                       scratch)
        wl.ctx.spark.stop()
        untraced = {k: v for k, (v, _) in e2e.items()}
    tracer = common.Tracer(True)
    log_dir = os.path.join(scratch, "eventlog")
    recorder = ProgressRecorder()
    traced_e2e, out, wl = workloads.measure(
        args.workload, args.seed, seconds, scratch, tracer=tracer,
        event_log_dir=log_dir, listener=recorder)
    t0, t1 = out.t_start, out.t_end
    spark = wl.ctx.spark
    n_slots = wl.slots

    probe = Probe(spark, tracer)
    paths, batches, docs_dir, eval_dir = _probe_inputs(wl, scratch, args.seed)
    m = token_layers(probe, os.path.dirname(paths[0]), scratch)
    tk = time.time()
    m.update(kernel_layer(tracer, batches))
    tc = time.time()
    m.update(curate_layers(probe, docs_dir, eval_dir))
    t2 = time.time()
    print(f"traced: loop {t1 - t0:.1f} s, token probes {tk - t1:.1f} s, "
          f"kernel {tc - tk:.1f} s, curate stages {t2 - tc:.1f} s",
          file=sys.stderr)
    drain_s = _probe_drain(spark, tracer, paths, scratch, "probe-drain")
    t3 = time.time()
    spark.stop()

    log = EventLog(log_dir)
    clean_tasks = log.tasks_of("probe:operators.clean.clean_detect")
    m["operators.clean.python_bytes_sent"] = log.python_metric(
        clean_tasks, "data sent to Python workers") / PROBE_REPS
    m["operators.clean.python_bytes_received"] = log.python_metric(
        clean_tasks, "data returned from Python workers") / PROBE_REPS
    m["operators.clean.python_time_s"] = log.python_metric(
        clean_tasks, "time to run Python workers") / PROBE_REPS
    m.update(exchange_layers(log, t0, t1, n_slots))
    m.update(streaming_layers(log, recorder.progress, t0, t1))
    batch_cover = m.pop("_batch_cover")
    if isinstance(wl, workloads.Trickle):
        m["streaming.pipeline.backlog_files_max"] = out.backlog_files_max
    else:
        m["streaming.pipeline.backlog_files_max"] = len(paths)
    m["streaming.pipeline.gen_late_s_max"] = max(out.gaps)
    _sql_spans(tracer, log, tuple(workloads.WORKLOADS))

    one = common.build_session(scratch, 1,
                               event_log_dir=os.path.join(scratch, "el1"))
    _probe_drain(one, tracer, paths[:3], scratch, "probe-drain-warm")
    one_s = _probe_drain(one, tracer, paths, scratch, "probe-drain-1slot")
    one.stop()
    print(f"traced: probe drain {t3 - t2:.1f} s, one-slot drains "
          f"{time.time() - t3:.1f} s", file=sys.stderr)
    m["scaling.drain_efficiency"] = one_s / (n_slots * drain_s)

    for k in ("seq_per_s", "latency_p50_s"):
        m[f"trace.{k}_delta"] = traced_e2e[k][0] - untraced[k]
    m["trace.layer_share"] = _layer_share(wl, m, out, batch_cover)
    tracer.write(os.path.join(common.OUT, "traces",
                              f"{args.workload}-seed{args.seed}.json"))
    names = [x["name"] for x in common.load_spec()["per_layer"]]
    return {k: (float(m[k]), 1) for k in names}, out.attempted, out.failed


def _sql_spans(tracer, log: EventLog, loop_names: tuple[str, ...]) -> None:
    """Each SQL execution of the timed loop becomes a child span of the
    operation it ran in, named after the layer it belongs to."""
    loops = [s for s in tracer.spans if s["name"] in loop_names]
    for e in log.sql.values():
        parent = next((s for s in loops
                       if e["end"] and s["start"] <= e["start"] <= s["end"]),
                      None)
        if parent is not None:
            tracer.record(SQL_SPANS[sql_kind(e)], e["start"], e["end"],
                          trace_id=parent["trace_id"],
                          parent=parent["span_id"])


def _layer_share(wl, m: dict, out, batch_cover: float) -> float:
    """Share of one operation's wall time that the measured layers cover:
    for ``drain`` the isolated layer calls against one drain, for
    ``trickle`` the SQL executions and trigger overhead inside a
    micro-batch."""
    if isinstance(wl, workloads.Trickle):
        return batch_cover
    layers = (m["sources.scan_s"] + m["operators.clean.boundary_s"]
              + m["operators.clean.clean_detect_s"]
              + m["sinks.exactly_once.write_s"]
              + m["streaming.pipeline.overhead_s_p50"]
              + m["streaming.pipeline.quarantine_scan_s"]
              + m["streaming.pipeline.density_s"])
    return layers / statistics.median(out.durations)
