"""Structured Streaming pipeline: the reference dataflow as a CEP stream.

The reference's batch lifecycle (scan → per-char classify → per-file result →
global ScanStats → atomic sink, ``/root/reference/hidden-characters-detector.py:881-948``)
becomes (north_star):

  readStream(token table) → mapInArrow clean/detect
    ├─ branch A: cleaned sequences → exactly-once sink (ref :911-923 analog)
    └─ branch B: detection events → withWatermark
         ├─ tumbling/sliding density per source  (ScanStats time-sliced)
         ├─ session windows per doc_id           (coordinated bursts)
         └─ stateful join vs confusable-dict stream (ref dict tables :255-406
            made a slowly-updating stream)

The production entry point is :func:`single_pass_pipeline`: branches A and B
run in ONE query as ONE Spark job per micro-batch.  Each task runs the
kernel once and stages the cleaned rows, the quarantined rows and the
per-(window, source) density partials (from the kernel's per-sequence
counters) as Parquet files itself; the driver publishes exactly those
files.  The standalone stateful operators below remain the
watermark/late-data/session surface (T1-T3) and are exercised by tests and
continuous-mode deployments.

All operators are stateless ``mapInArrow`` + built-in stateful SS operators,
so checkpoint/WAL resume and state-store management are Spark's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kernel import DetectorConfig, FULL_CLEAN
from ..operators.clean import (COUNTERS, clean_detect, detect_events,
                               kernel_batches, output_ddl)
from ..operators.quarantine import (QUARANTINE_REASON_COL,
                                    with_quarantine_reason)
from ..sinks.exactly_once import (LINEAGE_DDL, STAGED_DDL, STAGED_SCHEMA,
                                  STAGING_DIR, Output, StagedFile,
                                  _posix_dir, arrow_schema, publish,
                                  read_sink, with_lineage)

TOKEN_STREAM_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                       "source string, event_time timestamp")


def read_token_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream of token-table parquet (S1/S2 streaming analog).

    At production scale this is the Iceberg streaming source; the sandbox has
    no Iceberg jars (SURVEY.md §4.2), so the parquet file source — same
    incremental-listing semantics — stands in.  The schema is pinned
    (streams require it) to the BASELINE.json input_hint shape.
    """
    reader = (spark.readStream.schema(TOKEN_STREAM_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def clean_stream(tok_stream: DataFrame,
                 cfg: DetectorConfig = FULL_CLEAN) -> DataFrame:
    """Branch A: cleaned sequences with per-partition lineage columns."""
    return (clean_detect(tok_stream, cfg)
            .withColumn("partition_id", F.spark_partition_id()))


def event_stream(tok_stream: DataFrame,
                 cfg: DetectorConfig = FULL_CLEAN) -> DataFrame:
    """Branch B: detection events (stateless fan-out, no shuffle)."""
    return detect_events(tok_stream, cfg)


def density_windows(events: DataFrame, *, watermark: str = "10 minutes",
                    window: str = "1 minute",
                    slide: str | None = None) -> DataFrame:
    """Watermark-density per (window, source): the ScanStats aggregate
    (ref :544-563) time-sliced into the state store."""
    w = F.window("event_time", window, slide) if slide else \
        F.window("event_time", window)
    return (events.withWatermark("event_time", watermark)
            .groupBy(w, "source")
            .agg(F.count("*").alias("n_detections"),
                 F.approx_count_distinct("doc_id").alias("docs_est"),
                 F.sum(F.when(F.col("marker_type") == "Hidden", 1)
                       .otherwise(0)).alias("n_hidden"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "source", "n_detections", "docs_est", "n_hidden"))


def salted_density_windows(events: DataFrame, *,
                           watermark: str = "10 minutes",
                           window: str = "1 minute",
                           salt: int = 16) -> DataFrame:
    """Two-phase (salted) streaming density for skewed ``source`` keys.

    Phase 1 aggregates per (window, source, salt) — hot keys split S ways
    across state-store partitions; phase 2 folds the salt out.  Requires
    Spark's multiple-stateful-operator support (3.4+); both phases are
    append-mode compatible because phase 2 groups by the same window.
    """
    w = F.window("event_time", window)
    phase1 = (events.withWatermark("event_time", watermark)
              .groupBy(w, "source",
                       F.pmod(F.hash("doc_id"), F.lit(salt)).alias("salt"))
              .agg(F.count("*").alias("c")))
    # window_time() re-exposes the event-time column so the second stateful
    # aggregation inherits the watermark (multi-stateful-operator chaining)
    return (phase1
            .groupBy(F.window(F.window_time("window"), window), "source")
            .agg(F.sum("c").alias("n_detections"))
            .select(F.col("window.start").alias("window_start"), "source",
                    "n_detections"))


def session_bursts(events: DataFrame, *, watermark: str = "10 minutes",
                   gap: str = "30 seconds") -> DataFrame:
    """Session windows over doc_id bursts (coordinated-watermarking CEP)."""
    return (events.withWatermark("event_time", watermark)
            .groupBy(F.session_window("event_time", gap), "doc_id")
            .agg(F.count("*").alias("n_detections"),
                 F.min("source").alias("source"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "doc_id", "source", "n_detections"))


def _dict_join_cond(validity: str):
    """Shared interval-join condition: equi-key on the marker codepoint +
    a half-open validity window ``[valid_from, valid_from + validity)``.
    The time bound is what makes BOTH sides' streaming state evictable."""
    return F.expr(
        f"token = marker_cp AND event_time >= valid_from "
        f"AND event_time < valid_from + interval {validity}")


def confusable_dict_join(events: DataFrame, dict_stream: DataFrame, *,
                         event_watermark: str = "10 minutes",
                         dict_watermark: str = "1 hour",
                         validity: str = "1 hour") -> DataFrame:
    """Stateful stream-stream join: detections ⋈ confusable-dict updates.

    The reference's static replacement dicts (ref :255-406) become a
    slowly-updating stream ``(marker_cp, replacement, marker_type,
    valid_from)``; the join condition is equi-key + a time-range bound so
    both sides' state is evictable (SURVEY.md §2.3).
    """
    ev = events.withWatermark("event_time", event_watermark)
    dc = (dict_stream
          .withColumnRenamed("marker_type", "dict_marker_type")
          .withColumnRenamed("replacement", "dict_replacement")
          .withWatermark("valid_from", dict_watermark))
    return (ev.join(dc, _dict_join_cond(validity), "inner")
            .select("doc_id", "source", "event_time", "token",
                    "marker_type",
                    F.col("dict_replacement").alias("replacement"),
                    "valid_from"))


def confusable_dict_join_batch(events: DataFrame, dict_df: DataFrame, *,
                               validity: str = "1 hour") -> DataFrame:
    """Batch analog of :func:`confusable_dict_join` — the SAME interval
    condition over a static versioned dictionary (backfill / driver
    contract).  No watermarks; the dictionary side is broadcast — it is a
    rule table (hundreds of rows at any scale), so the big events side
    never shuffles.  Returns the joined frame with the dictionary's
    columns prefixed ``dict_`` where they would collide."""
    dc = dict_df.withColumnRenamed("marker_type", "dict_marker_type") \
                .withColumnRenamed("replacement", "dict_replacement")
    return events.join(F.broadcast(dc), _dict_join_cond(validity), "inner")


def dedup_stream(tok_stream: DataFrame, *, watermark: str = "10 minutes",
                 keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Ingestion dedup for at-least-once upstreams: drop re-deliveries of
    the same ``keys`` within the watermark window.

    Uses ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``): plain
    streaming dropDuplicates keeps every key in the state store FOREVER —
    unbounded state on an unbounded stream — while the within-watermark
    variant evicts a key once the watermark passes its first sighting plus
    the delay, which is exactly the re-delivery window an at-least-once
    source (Kafka redelivery, file-source replay, upstream retry) needs.
    State size is O(distinct keys per watermark window), not O(stream).

    Apply BEFORE the clean kernel (dedup early, clean once).  Caveat: rows
    with NULL key values compare equal in the state store — run the
    quarantine gate first if the source can produce null ids.
    """
    return (tok_stream.withWatermark("event_time", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def scan_stats_stream(cleaned: DataFrame, *,
                      watermark: str = "10 minutes",
                      window: str = "1 minute") -> DataFrame:
    """Global ScanStats (A3) per window+source over branch A output."""
    return (cleaned.withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window), "source")
            .agg(F.count("*").alias("files_processed"),
                 F.sum(F.col("had_marker").cast("long"))
                 .alias("files_with_markers"),
                 F.sum("n_detected").alias("total_markers_detected"),
                 F.sum("n_processed").alias("total_markers_processed"))
            .select(F.col("window.start").alias("window_start"), "source",
                    "files_processed", "files_with_markers",
                    "total_markers_detected", "total_markers_processed"))


def gate_stream(tok: DataFrame, *, decontam_eval=None, decontam_k: int = 20,
                history_bloom: tuple[bytes, int, int] | None = None
                ) -> DataFrame:
    """The ingestion gates; dropped rows reach no sink and are counted as
    observed metrics.

    * ``decontam_eval``: rows sharing a token ``decontam_k``-gram with the
      broadcast eval set (``operators.decontam.mark_contaminated``, a
      stateless ``mapInArrow``) — ``decontam_metrics.n_contaminated``;
    * ``history_bloom``: rows whose token array is in the previous
      snapshot's Bloom filter (``(bits, m, k)`` from ``bloom.bloom_build``
      keyed on ``cast(tokens as string)``; zero false negatives, a false
      positive drops a novel row, the safe direction) — a codegen
      projection that complements ``dropDuplicatesWithinWatermark``, which
      cannot see prior runs — ``history_metrics.n_history_dropped``.
    """
    if decontam_eval is not None:
        from ..operators.decontam import mark_contaminated
        marked = mark_contaminated(tok, decontam_eval, k=decontam_k)
        marked = marked.observe(
            "decontam_metrics",
            F.sum(F.col("contaminated").cast("long"))
            .alias("n_contaminated"))
        tok = marked.where(~F.col("contaminated")).drop("contaminated")
    if history_bloom is not None:
        from ..operators.bloom import bloom_might_contain
        h_bits, h_m, h_k = history_bloom
        gated = bloom_might_contain(
            tok, h_bits, F.col("tokens").cast("string"),
            m=h_m, k=h_k, out_col="__in_history")
        gated = gated.observe(
            "history_metrics",
            F.sum(F.col("__in_history").cast("long"))
            .alias("n_history_dropped"))
        tok = gated.where(~F.col("__in_history")).drop("__in_history")
    return tok


BATCH_ID_PROPERTY = "hcd.pipeline.batch_id"
DENSITY_DDL = ("window_start timestamp, window_end timestamp, "
               "source string, n_detections bigint, n_hidden bigint, "
               "n_seq bigint")
_WINDOW = "__density_window"
_COUNTS = ("n_seq", "n_quarantined", "n_detected", "n_seq_with_markers")
# a task's records: its staged files, then one row of counts
_RECORD_DDL = STAGED_DDL + "".join(f", {c} bigint" for c in _COUNTS)
_RECORD_SCHEMA = pa.schema(list(STAGED_SCHEMA)
                           + [(c, pa.int64()) for c in _COUNTS])


def _density_partials(good: pa.Table, acc: pa.Table | None) -> pa.Table:
    """Per-(window, source) sums of one output batch's good rows, folded
    into ``acc`` (the sums of the task's earlier batches, or None).  A row
    without an event time has no window (``F.window`` drops it too)."""
    good = good.filter(pc.is_valid(good.column("event_time")))
    w = good.column(_WINDOW)
    keys = ["window_start", "window_end", "source"]
    sums = ["n_detections", "n_hidden", "n_seq"]
    parts = pa.table(
        [pc.struct_field(w, [0]), pc.struct_field(w, [1]),
         good.column("source"), good.column("n_detected").cast(pa.int64()),
         good.column("n_hidden").cast(pa.int64()),
         pa.array(np.ones(good.num_rows, np.int64))], names=keys + sums)
    if acc is not None:
        parts = pa.concat_tables([acc, parts])
    return (parts.group_by(keys, use_threads=False)
            .aggregate([(c, "sum") for c in sums])
            .select(keys + [f"{c}_sum" for c in sums])
            .rename_columns(keys + sums))


def _task_slots(spark: SparkSession) -> int:
    """How many tasks the scheduler runs at once: the default resource
    profile's slots over the executors registered now, or
    ``defaultParallelism`` while none are (it is often set above the slot
    count, so it is only the fallback)."""
    sc = spark.sparkContext._jsc.sc()
    slots = sc.maxNumConcurrentTasks(
        sc.resourceProfileManager().defaultResourceProfile())
    return slots or spark.sparkContext.defaultParallelism


def single_pass_pipeline(spark: SparkSession, input_path: str, out_dir: str,
                         checkpoint_dir: str, *,
                         cfg: DetectorConfig = FULL_CLEAN,
                         window: str = "1 minute",
                         max_files_per_trigger: int | None = None,
                         trigger_available_now: bool = True,
                         quarantine: bool = True,
                         decontam_eval=None, decontam_k: int = 20,
                         history_bloom: tuple[bytes, int, int] | None = None,
                         query_name: str = "hcd-pipeline"):
    """The full reference dataflow as ONE streaming query and ONE Spark
    job per micro-batch, run as one wave of at most one task per slot.

    The gated stream is coalesced to the session's task slots
    (:func:`_task_slots`, read when the query starts): every Python task
    pays a fixed start-up cost, so a batch whose file scan plans more
    partitions than there are slots would pay it again in a second wave.
    Each task runs the ``mapInArrow`` body that runs the clean kernel once
    over its rows (:func:`..operators.clean
    .kernel_batches`) and stages, with pyarrow, uniquely named Parquet files
    under ``<out>/_staging``: the good rows' cleaned output, the bad rows
    verbatim with their reason, and the per-(window, source) density
    partials of the good rows' counters.  It yields only the small file
    records plus one row of counts, which ``observe("clean_metrics")``
    sums.  The foreachBatch does one ``collect()`` of those records — the
    batch's only job, in the job group ``<query_name>/batch=<N>`` — and
    :func:`..sinks.exactly_once.publish` moves exactly the collected files
    into ``cleaned/``, ``quarantine/`` and ``density/batch_id=N``, writes
    the manifests last and deletes every other staged file.  The tasks
    read the batch id from the :data:`BATCH_ID_PROPERTY` local property.

    Bad records (schema-valid but semantically null rows — null/empty
    doc_id, null tokens, null event_time, n_tok contradicting the array;
    see :mod:`..operators.quarantine`) never fail the job and never reach
    the clean sink: the validity gate is a codegen projection before the
    kernel (their kernel cost is ~zero), and the task routes them verbatim
    + reason to ``<out>/quarantine/batch_id=N`` (only for batches that
    have any) and counts them as ``n_quarantined``.  They come from the
    already-gated stream (:func:`gate_stream`), so a row a gate dropped
    reaches no sink.

    Density windows are Spark's own ``F.window`` over ``event_time``,
    projected before the kernel; the partials are additive counts that
    :func:`read_density` folds.

    Returns the started StreamingQuery.
    """
    # the sink's metadata I/O is POSIX (sinks.exactly_once._posix_dir):
    # refuse other schemes before the query starts, not mid-batch
    out_dir = _posix_dir(out_dir, what="pipeline output")
    tok = gate_stream(read_token_stream(spark, input_path,
                                        max_files_per_trigger),
                      decontam_eval=decontam_eval, decontam_k=decontam_k,
                      history_bloom=history_bloom)
    tok = (with_quarantine_reason(tok) if quarantine else
           tok.withColumn(QUARANTINE_REASON_COL, F.lit(None).cast("string")))
    raw_cols = tok.columns
    # a row without an event time gets the epoch's window, so the window
    # projection filters no row (its density is dropped in the task)
    tok = tok.withColumn(_WINDOW, F.window(
        F.coalesce("event_time", F.lit(0).cast("timestamp")), window))
    keep = [c for c in raw_cols if c not in ("tokens", QUARANTINE_REASON_COL)]
    payload = ["tokens_clean"] + COUNTERS
    run_kernel = kernel_batches("tokens", cfg, tok.columns, payload)
    staging = os.path.join(out_dir, STAGING_DIR)
    outputs = {
        "cleaned": Output(os.path.join(out_dir, "cleaned"), arrow_schema(
            f"{output_ddl(tok, keep, payload)}, partition_id int, "
            f"{LINEAGE_DDL}")),
        "quarantine": Output(os.path.join(out_dir, "quarantine"), None),
        "density": Output(os.path.join(out_dir, "density"),
                          arrow_schema(DENSITY_DDL), manifest=False),
    }

    def stage(batches):
        tc = TaskContext.get()
        batch_id = int(tc.getLocalProperty(BATCH_ID_PROPERTY))
        files = {k: StagedFile(staging, k) for k in outputs}
        density, counts = None, np.zeros(len(_COUNTS), np.int64)
        for out in run_kernel(batches):
            t = pa.Table.from_batches([out])
            bad = pc.is_valid(t.column(QUARANTINE_REASON_COL))
            n_bad = pc.sum(bad, min_count=0).as_py()
            counts += [t.num_rows, n_bad] + [
                pc.sum(t.column(c), min_count=0).as_py()
                for c in ("n_detected", "had_marker")]
            if n_bad:
                files["quarantine"].write(t.select(raw_cols).filter(bad))
            t = t.select(keep + payload + [_WINDOW])
            if n_bad:
                t = t.filter(pc.invert(bad))
            files["cleaned"].write(with_lineage(
                t.select(keep + payload).append_column(
                    "partition_id", pa.array(
                        np.full(t.num_rows, tc.partitionId(), np.int32))),
                batch_id))
            density = _density_partials(
                t.select([_WINDOW, "event_time", "source", "n_detected",
                          "n_hidden"]), density)
        if density is not None:
            files["density"].write(density)
        recs = [r for f in files.values() for r in f.record()]
        if counts[0]:
            recs.append(dict(zip(_COUNTS, counts.tolist())))
        yield pa.RecordBatch.from_pylist(recs, schema=_RECORD_SCHEMA)

    # observe() folds the tasks' counts into the batch's own execution and
    # surfaces them in every progress event (the reference's ScanStats +
    # throughput telemetry, ref :926-948) at no extra pass
    staged = tok.coalesce(_task_slots(spark)).mapInArrow(
        stage, _RECORD_DDL).observe(
        "clean_metrics", F.coalesce(F.sum("n_seq"), F.lit(0)).alias("n_seq"),
        *[F.sum(c).alias(c) for c in ("n_detected", "n_seq_with_markers",
                                      "n_quarantined")])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sc = batch_df.sparkSession.sparkContext
        run_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{query_name}/batch={batch_id}",
                       f"{query_name} micro-batch {batch_id}", True)
        sc.setLocalProperty(BATCH_ID_PROPERTY, str(batch_id))
        try:
            records = [r.asDict() for r in batch_df.collect()]
        finally:  # give back the stream's group: query.stop() cancels it
            sc.setLocalProperty(BATCH_ID_PROPERTY, None)
            sc.setJobGroup(run_group, None, True)
        publish(outputs, batch_id, records, staging)

    writer = (staged.writeStream.foreachBatch(write_batch)
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


QUARANTINE_SCHEMA = (TOKEN_STREAM_SCHEMA
                     + ", quarantine_reason string, batch_id int")


def read_quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    """Quarantined rows across all committed batches (original record +
    ``quarantine_reason`` + the ``batch_id`` partition column), for audit /
    reprocessing.  Compaction-aware (quarantine batch dirs carry the same
    manifest contract as the main sink, so ``compact_sink`` folds them into
    generations too — readback goes through :func:`sinks.exactly_once
    .read_sink`).  Empty WITH THE SAME SCHEMA when no batch has quarantined
    anything — the partition column is cast to int so callers never see a
    schema that depends on whether anything was quarantined."""
    qdir = os.path.join(_posix_dir(out_dir, what="pipeline output"),
                        "quarantine")
    has_batches = os.path.isdir(qdir) and any(
        d.startswith("batch_id=") or d.startswith("gen-")
        for d in os.listdir(qdir))
    if not has_batches:
        return spark.createDataFrame([], QUARANTINE_SCHEMA)
    return read_sink(spark, qdir).withColumn(
        "batch_id", F.col("batch_id").cast("int"))


def read_density(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the per-batch density partials written by
    :func:`single_pass_pipeline` into global per-(window, source) totals.

    All partial columns are additive counts, so the fold is exact; at
    cluster scale the partials table stays tiny (windows × sources × batches
    rows) and this read-time fold is a broadcast-sized aggregation.
    """
    return (read_sink(spark, os.path.join(out_dir, "density"))
            .groupBy("window_start", "window_end", "source")
            .agg(F.sum("n_detections").alias("n_detections"),
                 F.sum("n_hidden").alias("n_hidden"),
                 F.sum("n_seq").alias("n_seq")))


def marker_rate_anomalies(cleaned: DataFrame, *, alpha: float = 0.3,
                          threshold: float = 3.0, min_batches: int = 3,
                          state_timeout_ms: int | None = None
                          ) -> DataFrame:
    """Custom stateful CEP operator (``applyInPandasWithState``): per-source
    marker-rate anomaly detection.

    Built-in stateful operators cover windows/joins; this is the custom
    per-key state machine Spark lacks: for each ``source`` it keeps an
    exponential moving average of the per-batch detection rate
    (detections / sequence) in a tiny GroupState, and flags a batch whose
    rate exceeds ``threshold``× the EWMA once ``min_batches`` batches have
    been observed.  State is a 3-field tuple per source (EWMA, batch count,
    last event-time micros) — O(#sources), checkpointed / restored by the
    state store like any built-in operator.

    ``state_timeout_ms`` enables processing-time state eviction for
    long-running continuous deployments.  Leave it ``None`` (NoTimeout)
    under ``availableNow``: a registered processing-time timeout keeps the
    drain trigger scheduling empty micro-batches to service future
    timeouts, so the query never terminates (measured: dozens of no-data
    batches after the last file).

    Emits one row per (source, micro-batch): the observed rate, the EWMA
    *before* this batch folded in, and the anomaly flag.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    out_schema = ("source string, last_event_time timestamp, n_seq long, "
                  "n_detected long, rate double, ewma_prev double, "
                  "n_batches_seen long, is_anomaly boolean")
    state_schema = "ewma double, n long, last_us long"

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            # the input iterator MUST be drained even on the timeout path:
            # returning with unconsumed Arrow batches desynchronizes the
            # worker protocol (the JVM sees the worker "crash" with EOF and
            # retries the batch forever)
            for _ in pdf_iter:
                pass
            state.remove()
            return
        n_seq = 0
        n_det = 0
        last_us = 0
        for pdf in pdf_iter:
            n_seq += len(pdf)
            n_det += int(pdf["n_detected"].sum())
            if len(pdf):
                last_us = max(last_us,
                              int(pdf["event_time"].astype("int64").max()
                                  // 1000))
        rate = (n_det / n_seq) if n_seq else 0.0
        ewma_prev, n_prev = (0.0, 0)
        if state.exists:
            ewma_prev, n_prev, _ = state.get
        is_anomaly = bool(n_prev >= min_batches and ewma_prev > 0
                          and rate > threshold * ewma_prev)
        ewma_new = rate if n_prev == 0 else \
            alpha * rate + (1 - alpha) * ewma_prev
        state.update((float(ewma_new), int(n_prev + 1), int(last_us)))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame([{
            "source": key[0],
            "last_event_time": pd.Timestamp(last_us, unit="us"),
            "n_seq": n_seq, "n_detected": n_det, "rate": rate,
            "ewma_prev": float(ewma_prev),
            "n_batches_seen": int(n_prev + 1),
            "is_anomaly": is_anomaly,
        }])

    timeout_mode = (GroupStateTimeout.NoTimeout
                    if state_timeout_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)
    return (cleaned.select("source", "event_time", "n_detected")
            .groupBy("source")
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append", timeout_mode))


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def use_rocksdb_state_store(spark) -> None:
    """Switch streaming state to RocksDB (the at-scale choice: state no
    longer bounded by executor heap; changelog checkpointing keeps commits
    incremental).  HDFS-backed in-memory provider remains the default for
    tiny local tests."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled", "true")
