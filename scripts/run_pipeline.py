#!/usr/bin/env python3
"""spark-submit entry point for the streaming CEP pipeline (north_rule).

Usage (cluster):

    zip -r hcd_spark.zip hidden_characters_detector_spark
    spark-submit --py-files hcd_spark.zip scripts/run_pipeline.py \
        --input /path/to/token_stream --output /path/to/sink \
        --checkpoint /path/to/ck --metrics /path/to/metrics.jsonl

Runs the full pipeline as ONE streaming query (clean once per micro-batch →
exactly-once sink + counter-derived density partials; see
``streaming.pipeline.single_pass_pipeline``), resumable from checkpoint.  In
the sandbox it is exercised against a staged file stream; on a real cluster
the input is the Iceberg token table and ``--sink iceberg`` switches the
cleaned-sequence sink to Iceberg snapshot commits (requires the runtime
jars, see ``sinks.exactly_once.iceberg_sink`` for the --packages recipe).

Detection config mirrors the reference CLI (ref :969-1050): --exclude-char
(U+XXXX / hex / literal, repeatable), --word, --no-typographic, --no-ivs,
--detect-only.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hidden_characters_detector_spark.functions import kernel  # noqa: E402

kernel.pin_allocator_env()


def build_config(args):
    """argparse namespace -> DetectorConfig (ref from_args, :948-963)."""
    from hidden_characters_detector_spark.functions.kernel import (
        DetectorConfig, parse_excluded_chars)

    try:
        excluded = parse_excluded_chars(args.exclude_char or [])
    except ValueError as e:
        print(f"Error: {e}", file=sys.stderr)
        raise SystemExit(1) from e
    return DetectorConfig(
        clean=not args.detect_only,
        check_typographic=not args.no_typographic,
        check_ivs=not args.no_ivs,
        exclude_word_chars=args.word,
        excluded=excluded)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--master", default=None,
                    help="override master (default: from spark-submit)")
    ap.add_argument("--available-now", default=True,
                    action=argparse.BooleanOptionalAction,
                    help="drain available input then stop (default); "
                         "--no-available-now runs continuously")
    ap.add_argument("--window", default="1 minute")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--sink", choices=("parquet", "iceberg"),
                    default="parquet")
    ap.add_argument("--anomalies", action="store_true",
                    help="also run the stateful CEP query: per-source "
                         "marker-rate EWMA anomaly detection "
                         "(applyInPandasWithState); rows land in "
                         "<output>/anomalies with its own checkpoint")
    ap.add_argument("--anomaly-threshold", type=float, default=3.0,
                    help="flag a batch whose rate exceeds this multiple "
                         "of the per-source EWMA (default 3.0)")
    ap.add_argument("--anomaly-alpha", type=float, default=0.3)
    ap.add_argument("--anomaly-min-batches", type=int, default=3)
    ap.add_argument("--quarantine", default=True,
                    action=argparse.BooleanOptionalAction,
                    help="route semantically null rows (null/empty doc_id, "
                         "null tokens/event_time, n_tok mismatch) to "
                         "<output>/quarantine instead of cleaning them "
                         "(default on; --no-quarantine skips the gate)")
    ap.add_argument("--decontam-eval", default=None, metavar="DIR",
                    help="token-table parquet (doc_id, tokens) of an eval "
                         "benchmark: rows sharing any token k-gram with it "
                         "are dropped at ingestion (stateless broadcast "
                         "gate, n_contaminated observed metric)")
    ap.add_argument("--decontam-k", type=int, default=20)
    ap.add_argument("--history", default=None, metavar="DIR",
                    help="token-table parquet of a PREVIOUS snapshot: "
                         "sequences whose token arrays are already in it "
                         "are dropped at ingestion via a broadcast Bloom "
                         "filter (zero false negatives; false positives "
                         "drop a few novel rows — the safe direction; "
                         "n_history_dropped observed metric)")
    ap.add_argument("--history-bits-per-key", type=float, default=12.0,
                    help="Bloom filter size per history key "
                         "(12 bits/key ~= 0.3%% false-positive rate)")
    ap.add_argument("--dict-stream", default=None, metavar="DIR",
                    help="directory of confusable-dictionary update files "
                         "(parquet, schema sources.confusable_dict."
                         "DICT_SCHEMA); runs the stateful stream-stream "
                         "interval join of detection events against the "
                         "dict updates, appending matches to "
                         "<output>/dict_join with its own checkpoint")
    ap.add_argument("--dict-validity", default="1 hour",
                    help="how long a dictionary version stays joinable "
                         "after its valid_from (default '1 hour')")
    ap.add_argument("--density", choices=("counters", "events"),
                    default="counters",
                    help="'counters' (default): per-window density summed "
                         "from the per-sequence counters by the kernel task "
                         "that stages the batch's outputs, and published "
                         "with them; 'events': "
                         "additionally run the stateful windowed-aggregate "
                         "path (salted two-phase agg over exploded "
                         "detection events in the state store) appending "
                         "watermark-closed windows to "
                         "<output>/density_events")
    ap.add_argument("--compact", action="store_true",
                    help="after the drain completes, compact the per-batch "
                         "sink dirs into one generation (small-files "
                         "maintenance; availableNow mode only)")
    ap.add_argument("--compact-target-rows", type=int, default=1_000_000)
    # detection config (reference CLI parity)
    ap.add_argument("--exclude-char", action="append", default=[],
                    metavar="CHAR", help="U+XXXX, bare hex, or literal char "
                    "to exclude from detection (repeatable)")
    ap.add_argument("--word", action="store_true",
                    help="also exclude MS-Word common chars")
    ap.add_argument("--no-typographic", action="store_true")
    ap.add_argument("--no-ivs", action="store_true")
    ap.add_argument("--detect-only", action="store_true",
                    help="report markers without cleaning (ref --clean off)")
    args = ap.parse_args()
    cfg = build_config(args)

    from pyspark.sql import SparkSession

    b = (SparkSession.builder.appName("hcd-spark-pipeline")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.worker.reuse", "true")
         .config("spark.sql.shuffle.partitions",
                 os.environ.get("SPARK_GRAFT_SHUFFLE", "64")))
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()

    from hidden_characters_detector_spark.streaming import pipeline
    from hidden_characters_detector_spark.streaming.metrics import (
        ProgressRecorder)

    rec = ProgressRecorder(args.metrics)
    spark.streams.addListener(rec)

    decontam_bc = None
    if args.decontam_eval:
        from hidden_characters_detector_spark.operators.decontam import (
            build_eval_filter)
        decontam_bc = build_eval_filter(
            spark, spark.read.parquet(args.decontam_eval),
            k=args.decontam_k)

    history_bloom = None
    if args.history:
        from pyspark.sql import functions as F

        from hidden_characters_detector_spark.operators import bloom
        hist = spark.read.parquet(args.history).select(
            F.col("tokens").cast("string").alias("key"))
        n_hist = hist.count()
        bpk = args.history_bits_per_key
        m = max(64, (int(n_hist * bpk) + 7) & ~7)  # byte-aligned
        k = max(1, min(16, round(bpk * 0.6931)))   # ln2 * bits/key
        history_bloom = (bloom.bloom_build(hist, "key", m=m, k=k), m, k)

    if args.sink == "iceberg":
        # surfaces a clear error + recipe when the jars are absent; the
        # ingestion gates apply on this branch too, with the same observed
        # drop counts, so rows never vanish unexplained
        from hidden_characters_detector_spark.sinks.exactly_once import (
            iceberg_sink)
        tok = pipeline.gate_stream(
            pipeline.read_token_stream(
                spark, args.input,
                max_files_per_trigger=args.max_files_per_trigger),
            decontam_eval=decontam_bc, decontam_k=args.decontam_k,
            history_bloom=history_bloom)
        q = iceberg_sink(pipeline.clean_stream(tok, cfg), args.output,
                         os.path.join(args.checkpoint, "sink"),
                         trigger_available_now=args.available_now,
                         query_name="cleaned-sink")
    else:
        q = pipeline.single_pass_pipeline(
            spark, args.input, args.output,
            os.path.join(args.checkpoint, "sink"), cfg=cfg,
            window=args.window,
            max_files_per_trigger=args.max_files_per_trigger,
            trigger_available_now=args.available_now,
            quarantine=args.quarantine,
            decontam_eval=decontam_bc, decontam_k=args.decontam_k,
            history_bloom=history_bloom,
            query_name="cleaned-sink")

    # optional CEP branches: each is an independent streaming query over
    # the same source (its own checkpoint/state).  They re-scan the input
    # rather than piggyback on the single-pass foreachBatch because
    # stateful operators (applyInPandasWithState / windowed aggs) only
    # exist on streaming DataFrames; at cluster scale each subscribes to
    # the same Iceberg table and the clean kernel runs once per
    # subscribing query (the anomaly branch only materializes the narrow
    # counter columns).
    extra = []
    if args.anomalies:
        from hidden_characters_detector_spark.sinks.exactly_once import (
            exactly_once_parquet_sink)
        tok_a = pipeline.read_token_stream(
            spark, args.input,
            max_files_per_trigger=args.max_files_per_trigger)
        anom = pipeline.marker_rate_anomalies(
            pipeline.clean_stream(tok_a, cfg),
            alpha=args.anomaly_alpha, threshold=args.anomaly_threshold,
            min_batches=args.anomaly_min_batches)
        extra.append(exactly_once_parquet_sink(
            anom, os.path.join(args.output, "anomalies"),
            os.path.join(args.checkpoint, "anomalies"),
            trigger_available_now=args.available_now,
            query_name="anomaly-cep"))
    if args.dict_stream:
        from hidden_characters_detector_spark.sources import confusable_dict
        tok_d = pipeline.read_token_stream(
            spark, args.input,
            max_files_per_trigger=args.max_files_per_trigger)
        joined = pipeline.confusable_dict_join(
            pipeline.event_stream(tok_d, cfg),
            confusable_dict.read_dict_stream(spark, args.dict_stream),
            validity=args.dict_validity)
        writer = (joined.writeStream.outputMode("append").format("parquet")
                  .option("path", os.path.join(args.output, "dict_join"))
                  .option("checkpointLocation",
                          os.path.join(args.checkpoint, "dict_join"))
                  .queryName("dict-join"))
        if args.available_now:
            writer = writer.trigger(availableNow=True)
        extra.append(writer.start())
    if args.density == "events":
        tok_e = pipeline.read_token_stream(
            spark, args.input,
            max_files_per_trigger=args.max_files_per_trigger)
        dens = pipeline.salted_density_windows(
            pipeline.event_stream(tok_e, cfg), window=args.window)
        writer = (dens.writeStream.outputMode("append").format("parquet")
                  .option("path", os.path.join(args.output,
                                               "density_events"))
                  .option("checkpointLocation",
                          os.path.join(args.checkpoint, "density_events"))
                  .queryName("density-events"))
        if args.available_now:
            writer = writer.trigger(availableNow=True)
        # append mode emits watermark-CLOSED windows only: under a drain
        # the trailing window stays in state until later data advances the
        # watermark (resume picks it up) — the counter-derived density in
        # the main sink is always complete
        extra.append(writer.start())

    q.awaitTermination()
    for eq in extra:
        eq.awaitTermination()
    if args.compact and args.sink == "parquet" and args.available_now:
        from hidden_characters_detector_spark.sinks.exactly_once import (
            compact_sink)
        info = compact_sink(spark, os.path.join(args.output, "cleaned"),
                            target_rows_per_file=args.compact_target_rows)
        print(f"COMPACTED up_to={info['up_to']} rows={info['rows']} "
              f"files={info['files']}")
        qdir = os.path.join(args.output, "quarantine")
        if os.path.isdir(qdir):
            # compact whenever the dir exists (even under --no-quarantine:
            # dirs from earlier quarantining runs still accumulate files);
            # backfill manifests for dirs predating the manifest contract
            # — safe here because the drain has completed
            from hidden_characters_detector_spark.sinks.exactly_once import (
                backfill_manifests)
            backfill_manifests(qdir)
            qinfo = compact_sink(spark, qdir,
                                 target_rows_per_file=args.compact_target_rows)
            print(f"COMPACTED-QUARANTINE up_to={qinfo['up_to']} "
                  f"rows={qinfo['rows']} files={qinfo['files']}")
    if args.dict_stream:
        ddir = os.path.join(args.output, "dict_join")
        n_dj = (spark.read.parquet(ddir).count()
                if os.path.isdir(ddir) else 0)
        print(f"DICT JOIN rows={n_dj}")
    if args.anomalies and args.sink == "parquet":
        from hidden_characters_detector_spark.sinks.exactly_once import (
            read_sink)
        adir = os.path.join(args.output, "anomalies")
        if os.path.isdir(adir):
            adf = read_sink(spark, adir)
            print(f"ANOMALY CEP rows={adf.count()} "
                  f"flagged={adf.where('is_anomaly').count()}")
    if args.sink == "parquet" and args.quarantine:
        qdf = pipeline.read_quarantine(spark, args.output)
        print(f"QUARANTINE rows={qdf.count()}")
    n = rec.total_input_rows("cleaned-sink")
    dur = sum(p.get("batchDuration", 0) for p in rec.progress
              if p.get("name") == "cleaned-sink") / 1000.0
    print(f"PIPELINE DONE rows={n} wall_batch_s={dur:.2f} "
          f"rows_per_sec={n / dur if dur else 0:.0f} "
          f"late_dropped={rec.rows_dropped_by_watermark()}")
    spark.stop()


if __name__ == "__main__":
    main()
