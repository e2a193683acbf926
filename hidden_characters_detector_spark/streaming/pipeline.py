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
run in ONE query/foreachBatch so the kernel runs once per micro-batch (the
density branch aggregates the committed sink's per-sequence counters).  The
standalone stateful operators below remain the watermark/late-data/session
surface (T1-T3) and are exercised by tests and continuous-mode deployments.

All operators are stateless ``mapInArrow`` + built-in stateful SS operators,
so checkpoint/WAL resume and state-store management are Spark's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kernel import DetectorConfig, FULL_CLEAN
from ..operators.clean import clean_detect, detect_events

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


def _source_wal_files(spark: SparkSession, checkpoint_dir: str,
                      batch_id: int, source_idx: int = 0) -> list[str]:
    """The exact input files of micro-batch ``batch_id``, from the file
    source's checkpoint WAL (``sources/<idx>/<batch_id>``: a version line
    followed by one JSON entry per file).  This is the list Spark commits
    BEFORE executing the batch and re-reads on crash replay — the same
    determinism contract the exactly-once sink rests on.

    Every ``compactInterval``-th batch (default 10) Spark writes
    ``<batch_id>.compact`` instead: a CUMULATIVE log of every file seen so
    far, each entry tagged with its ``batchId`` — so the compact form is
    read with a batchId filter.

    The read goes through the JVM's Hadoop ``FileSystem`` (the checkpoint's
    own scheme — ``file://``, ``hdfs://``, ``s3a://`` — resolves to the
    right implementation), so the gate works wherever Spark itself can
    checkpoint; no driver-local I/O assumption.  A tiny driver-side
    metadata read, no Spark job.

    Fails LOUDLY when the batch has no WAL entry at all
    (``FileNotFoundError``): Spark writes the entry before executing every
    batch — even a no-data one — so a missing file means the log layout is
    not what this parser expects (format drift, wrong ``source_idx``) and
    silently returning ``[]`` would drop quarantined rows from BOTH sinks.
    A present-but-empty entry is a genuine no-data batch ⇒ ``[]``; a
    malformed entry line raises from the JSON parser for the same reason.
    """
    import json

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = f"{checkpoint_dir.rstrip('/')}/sources/{source_idx}/{batch_id}"

    def read_utf8(path_str: str) -> str:
        path = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = path.getFileSystem(hconf)
        stream = fs.open(path)
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()

    def exists(path_str: str) -> bool:
        path = jvm.org.apache.hadoop.fs.Path(path_str)
        return path.getFileSystem(hconf).exists(path)

    def entries(text: str) -> list[dict]:
        out = []
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("v"):
                continue
            out.append(json.loads(line))
        return out

    if exists(base):
        return [e["path"] for e in entries(read_utf8(base))]
    if exists(base + ".compact"):
        return [e["path"] for e in entries(read_utf8(base + ".compact"))
                if e.get("batchId") == batch_id]
    raise FileNotFoundError(
        f"no source WAL entry for batch {batch_id} at {base}[.compact] — "
        "Spark commits this file before executing every batch, so its "
        "absence means the checkpoint log layout is not what the "
        "quarantine gate expects (Spark log-format drift or a wrong "
        "source index); refusing to silently drop quarantined rows")


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
    """The full reference dataflow as ONE streaming query, cleaning each
    micro-batch exactly once.

    The round-1 design ran branch A (clean → sink) and branch B (events →
    salted density) as two independent queries — each re-scanned and
    re-cleaned the input, and the sink recomputed every batch for its
    manifest count, so one logical clean pass cost ~3×.  This version runs a
    single ``foreachBatch``:

    1. the cleaned batch is written to the idempotent exactly-once sink
       partition (the only compute of the kernel);
    2. the row count comes from the written files' parquet footers;
    3. the windowed detection density is derived from the *committed* sink
       files' per-sequence counters (``n_detected``/``n_hidden``, map-side
       pre-aggregated inside the kernel) — a column-pruned re-read of five
       narrow int columns, never a second kernel pass, never an event
       explosion.  Partials land in ``density/batch_id=N`` (idempotent
       overwrite); totals are additive, so :func:`read_density` folds them
       at read time.  No salting is needed here: the per-batch aggregation
       is a plain batch hash-agg with map-side partial aggregation, so a
       hot ``source`` key collapses to one row per map partition before the
       (tiny) shuffle.

    Bad records (schema-valid but semantically null rows — null/empty
    doc_id, null tokens, null event_time, n_tok contradicting the array;
    see :mod:`..operators.quarantine`) never fail the job and never reach
    the clean sink: the validity gate runs as a codegen projection BEFORE
    the kernel (bad rows' tokens are swapped for an empty array, so their
    kernel cost is ~zero and the good-write filter drops them post-kernel),
    and the foreachBatch routes them verbatim + reason to
    ``<out>/quarantine/batch_id=N`` (same idempotent overwrite contract as
    the main sink) with an ``n_quarantined`` observed metric.  The
    quarantine rows are derived from a KERNEL-FREE raw re-read of the
    micro-batch's own input files, resolved from the file source's WAL
    (``<checkpoint>/sources/0/<batch_id>`` — the exact file list Spark
    itself commits before executing the batch and replays after a crash,
    so the re-read is deterministic by the same contract that makes the
    sink exactly-once; ``batch_df.inputFiles()`` is empty inside
    foreachBatch).  A filter on the passthrough reason column cannot be
    pushed through ``mapInArrow``, so re-filtering the batch handle would
    re-run the kernel, and persisting the cleaned batch to share one pass
    costs ~3× wall time on this VM (measured: 84 s vs 27 s median for the
    4.8M-row drain) — the raw re-scan is a cheap codegen filter over files
    already in page cache.

    Returns the started StreamingQuery.
    """
    import os

    from ..operators.quarantine import (QUARANTINE_REASON_COL,
                                        with_quarantine_reason)
    from ..sinks.exactly_once import (_posix_dir, parquet_dir_rows,
                                      write_batch_partition,
                                      write_manifest)

    # the parquet manifest sink's metadata I/O is POSIX (see
    # sinks.exactly_once._posix_dir): normalize file:// and refuse other
    # schemes up front, BEFORE the query starts, rather than failing (or
    # silently no-opting rmtree) mid-batch.  The CHECKPOINT may be any
    # scheme — its reads go through the Hadoop FileSystem.
    out_dir = _posix_dir(out_dir, what="pipeline output")

    tok = read_token_stream(spark, input_path,
                            max_files_per_trigger=max_files_per_trigger)
    if decontam_eval is not None:
        # streaming ingestion decontamination: the broadcast eval-shingle
        # gate (operators.decontam.mark_contaminated) is a STATELESS
        # mapInArrow, so it drops into the stream unchanged; contaminated
        # rows never reach the kernel or any sink, and the count surfaces
        # as an observed metric per batch
        from ..operators.decontam import mark_contaminated
        marked = mark_contaminated(tok, decontam_eval, k=decontam_k)
        marked = marked.observe(
            "decontam_metrics",
            F.sum(F.col("contaminated").cast("long"))
            .alias("n_contaminated"))
        tok = marked.where(~F.col("contaminated")).drop("contaminated")
    if history_bloom is not None:
        # cross-snapshot ingestion dedup: drop sequences whose token
        # array is already in the PREVIOUS snapshot's Bloom filter
        # (``(bits, m, k)`` from ``bloom.bloom_build`` keyed on
        # ``cast(tokens as string)``).  Zero false negatives — nothing
        # already trained on re-enters; false positives drop a few novel
        # rows, the safe direction.  The probe is a stateless codegen
        # projection (bit tests against the plan-literal bitset), so it
        # drops into the stream unchanged; it complements
        # ``dropDuplicatesWithinWatermark``, which bounds WITHIN-stream
        # duplicate state but cannot see prior runs.
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
    reason = F.col(QUARANTINE_REASON_COL)
    # bad rows flow through the kernel untouched: the Arrow kernel treats a
    # NULL token list as empty (sources.synth.lists_to_flat_tokens), so no
    # per-row array rewrite is needed — the reason column is the only
    # added projection, and the good-write filter drops bad rows after the
    # (for them ~free) kernel pass
    if quarantine:
        tok = with_quarantine_reason(tok)
    else:
        tok = tok.withColumn(QUARANTINE_REASON_COL,
                             F.lit(None).cast("string"))
    cleaned = clean_stream(tok, cfg)
    # per-batch marker-rate telemetry, zero extra passes: observe() folds
    # these aggregates into the batch's own execution and surfaces them in
    # every progress event's observedMetrics (ops monitoring at no cost —
    # the A3/A4 ScanStats+throughput telemetry of the reference, ref
    # :926-948, as streaming metrics)
    cleaned = cleaned.observe(
        "clean_metrics",
        F.count(F.lit(1)).alias("n_seq"),
        F.sum("n_detected").alias("n_detected"),
        F.sum(F.col("had_marker").cast("long")).alias("n_seq_with_markers"),
        F.sum(reason.isNotNull().cast("long")).alias("n_quarantined"))
    sink_dir = os.path.join(out_dir, "cleaned")
    dens_dir = os.path.join(out_dir, "density")
    quar_dir = os.path.join(out_dir, "quarantine")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        good = batch_df.where(reason.isNull()).drop(QUARANTINE_REASON_COL)
        write_batch_partition(good, batch_id, sink_dir)  # the kernel pass
        files = (_source_wal_files(batch_df.sparkSession, checkpoint_dir,
                                   batch_id)
                 if quarantine else [])
        if files:
            raw = batch_df.sparkSession.read.schema(
                TOKEN_STREAM_SCHEMA).parquet(*files)
            bad = with_quarantine_reason(raw).where(reason.isNotNull())
            if decontam_eval is not None:
                # the raw re-scan must honor the decontam gate too:
                # without this, a row that is BOTH contaminated and
                # quarantine-bad would land verbatim (leaked tokens and
                # all) in the quarantine sink, breaking the "contaminated
                # rows reach no sink" guarantee and desyncing
                # n_quarantined from the quarantine dir's row count.
                # Applied AFTER the (cheap codegen) bad-row filter: the
                # rolling-hash kernel then touches only the tiny bad
                # subset, not every raw row a second time — the filters
                # commute, so the quarantine set is identical
                from ..operators.decontam import mark_contaminated
                bad = (mark_contaminated(bad, decontam_eval, k=decontam_k)
                       .where(~F.col("contaminated"))
                       .drop("contaminated"))
            if history_bloom is not None:
                # same commute argument as the decontam gate above: the
                # stream-side history filter ran BEFORE quarantine
                # marking, so the raw re-scan must drop in-history rows
                # too or the quarantine dir would disagree with the
                # n_quarantined observed metric (and resurrect rows the
                # ingestion policy already excluded)
                from ..operators.bloom import bloom_might_contain
                h_bits, h_m, h_k = history_bloom
                bad = (bloom_might_contain(
                           bad, h_bits, F.col("tokens").cast("string"),
                           m=h_m, k=h_k, out_col="__in_history")
                       .where(~F.col("__in_history"))
                       .drop("__in_history"))
            # ONE raw scan: write unconditionally (deterministic per batch
            # — fixed WAL file set — so the overwrite stays idempotent
            # under replay), then drop the dir again if the batch was
            # clean: no empty dirs accumulating at one-per-batch rate and
            # no second existence-check scan
            qpath = os.path.join(quar_dir, f"batch_id={batch_id}")
            # repartition(1), NOT coalesce(1): coalesce propagates the
            # 1-partition constraint up through the filter into the SCAN,
            # single-threading the whole raw re-read (measured 16 s vs 3 s
            # for the 4.8M-row batch); repartition keeps the scan parallel
            # and only the (tiny) post-filter write runs in one task
            bad.repartition(1).write.mode("overwrite").parquet(qpath)
            n_bad = parquet_dir_rows(qpath)
            if n_bad == 0:
                import shutil
                shutil.rmtree(qpath, ignore_errors=True)
            else:
                # same manifest contract as the main sink, so compact_sink
                # can fold quarantine batch dirs too (its manifest gate
                # would otherwise skip every one of them forever)
                write_manifest(quar_dir, batch_id, n_bad)
        committed = batch_df.sparkSession.read.parquet(
            os.path.join(sink_dir, f"batch_id={batch_id}"))
        dens = (committed
                .groupBy(F.window("event_time", window), "source")
                .agg(F.sum("n_detected").alias("n_detections"),
                     F.sum("n_hidden").alias("n_hidden"),
                     F.count("*").alias("n_seq"))
                .select(F.col("window.start").alias("window_start"),
                        F.col("window.end").alias("window_end"),
                        "source", "n_detections", "n_hidden", "n_seq"))
        dens_path = os.path.join(dens_dir, f"batch_id={batch_id}")
        dens.coalesce(1).write.mode("overwrite").parquet(dens_path)
        parquet_dir_rows(dens_path)  # footer sanity touch (no job)

    writer = (cleaned.writeStream.foreachBatch(write_batch)
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
    import os

    from ..sinks.exactly_once import _posix_dir, read_sink

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
    import os

    part = spark.read.option("basePath", os.path.join(out_dir, "density")) \
        .parquet(os.path.join(out_dir, "density", "batch_id=*"))
    return (part.groupBy("window_start", "window_end", "source")
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
