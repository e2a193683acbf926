#!/usr/bin/env python3
"""spark-submit entry point for the BATCH curation pipeline: the LLM
training-data sweep composed from the engine's operators, end to end.

Usage (cluster):

    zip -r hcd_spark.zip hidden_characters_detector_spark
    spark-submit --py-files hcd_spark.zip scripts/run_curation.py \
        --input /path/to/documents_parquet --output /path/to/curated \
        [--eval /path/to/eval_parquet] [--epoch 1 --shards 64]

Stages, in curation order (each independently switchable):

 1. watermark clean        — the fused Arrow kernel (hidden/typographic/
                             IVS markers removed; the engine's core op)
 2. quality + language     — heuristic score >= --quality-min, language
                             in --lang (skip with --quality-min 0)
 3. repetition filter      — Gopher repetition signals, drop is_repetitive
 3b. LM band-pass          — mean bits/word under the corpus' own top-k
                             model within [--bits-min, --bits-max]
                             (CCNet-style: both tails cut; --lm-order 2
                             scores conditional bigram bits with unigram
                             backoff; at production scale score against a
                             precomputed reference model instead of
                             re-deriving per run)
 4. line dedup             — cross-document boilerplate removal (C4)
 4b. substring dedup       — ExactSubstr: repeated >=K-char spans keep
                             only the corpus-order first occurrence
                             (--substr-k; --substr-winnow W trades
                             exactness for a ~(W+1)/2x smaller verdict
                             shuffle, detection guaranteed for repeats
                             >= W+K-1 chars — the at-scale setting)
 5. exact dedup            — min-id keeper per content hash
 5b. near-dup dedup        — LSH → verify → groups (--near-dedup), keep
                             the LONGEST member per group (keeper
                             election; --near-threshold)
 5b'. containment dedup    — drop docs ≥TAU shingle-contained in a larger
                             doc (--containment-drop TAU; the asymmetric
                             quoting case Jaccard near-dedup misses)
 5c. history dedup         — drop docs whose text may already be in the
                             PREVIOUS snapshot (--history: broadcast
                             Bloom membership — zero false negatives,
                             FP rate set by --bloom-bits-per-key; the
                             cross-run dedup that never joins against
                             the history corpus)
 6. decontamination        — drop docs sharing char k-grams with --eval
 6b. DSIR resampling       — keep the --dsir-k docs most like the
                             --dsir-target domain (Gumbel-top-k over the
                             target-vs-raw unigram log-likelihood ratio)
 7. temperature mixing     — n^alpha source rebalance (--mix-alpha,
                             --mix-budget)
 8. split / epoch shuffle  — deterministic train/test tag + per-epoch
                             permutation, written partitioned by shard;
                             or ``--blocks N``: tokenize and write
                             cross-boundary N-token training blocks
                             (GPT loader shape) instead of documents

Every stage is the operator the test suite and driver contract gate —
this script only composes them.  Prints one JSON line of per-stage
surviving-document counts (computed from cheap count() jobs on the lazy
chain; each stage's plan subsumes the previous, so Spark re-runs the
narrow upstream rather than caching the corpus — at cluster scale pass
--no-stage-counts to skip all but the final count).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hidden_characters_detector_spark.functions import kernel  # noqa: E402

kernel.pin_allocator_env()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, ...)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--eval", default=None, metavar="DIR",
                    help="eval-benchmark parquet (doc_id, text); enables "
                         "decontamination")
    ap.add_argument("--dsir-target", default=None, metavar="DIR",
                    help="target-domain parquet (doc_id, text); enables "
                         "DSIR importance resampling")
    ap.add_argument("--dsir-k", type=int, default=None,
                    help="number of docs the DSIR resample keeps")
    ap.add_argument("--master", default=None)
    ap.add_argument("--quality-min", type=float, default=0.9,
                    help="minimum heuristic quality score (0 disables the "
                         "quality/language stage)")
    ap.add_argument("--lang", action="append", default=[],
                    help="accepted language codes (repeatable; default en)")
    ap.add_argument("--repetition-filter", default=True,
                    action=argparse.BooleanOptionalAction)
    ap.add_argument("--line-dedup", default=True,
                    action=argparse.BooleanOptionalAction)
    ap.add_argument("--line-min-docs", type=int, default=5)
    ap.add_argument("--paragraphs", action="store_true",
                    help="line-dedup blank-line-separated PARAGRAPHS as "
                         "atomic units instead of physical lines")
    ap.add_argument("--mix-alpha", type=float, default=None,
                    help="temperature-rebalance sources with keep "
                         "probability proportional to n^alpha (requires "
                         "--mix-budget)")
    ap.add_argument("--mix-budget", type=int, default=None,
                    help="target kept-document budget for --mix-alpha")
    ap.add_argument("--substr-k", type=int, default=None,
                    help="exact substring dedup (ExactSubstr): repeated "
                         ">=K-char spans keep only the corpus-order "
                         "first occurrence")
    ap.add_argument("--substr-winnow", type=int, default=1,
                    help="winnow window for --substr-k (1 = exact; "
                         "W > 1 shuffles only winnowed fingerprints, "
                         "guaranteeing detection of repeats >= W+K-1)")
    ap.add_argument("--exact-dedup", default=True,
                    action=argparse.BooleanOptionalAction)
    ap.add_argument("--history", default=None, metavar="DIR",
                    help="previous-snapshot parquet with a text column; "
                         "drops docs whose cleaned text may already be in "
                         "it (Bloom membership: zero false negatives; "
                         "false positives re-drop a few novel docs — the "
                         "safe direction for training data)")
    ap.add_argument("--bloom-bits-per-key", type=float, default=12.0,
                    help="filter size per history key for --history "
                         "(12 bits/key ~= 0.3%% false-positive rate)")
    ap.add_argument("--blocks", type=int, default=None,
                    help="tokenize the curated docs and write "
                         "cross-boundary training blocks of this many "
                         "tokens (doc_id order) instead of documents; "
                         "incompatible with --epoch/--train-frac")
    ap.add_argument("--containment-drop", type=float, default=None,
                    metavar="TAU",
                    help="drop docs >=TAU shingle-contained in a larger "
                         "doc (catches verbatim quoting that symmetric-"
                         "Jaccard near-dedup misses)")
    ap.add_argument("--near-dedup", action="store_true",
                    help="near-dup grouping (LSH->verify->CC) with "
                         "longest-member keeper election")
    ap.add_argument("--near-threshold", type=float, default=0.85)
    ap.add_argument("--near-bands", type=int, default=None,
                    help="LSH band count (default: 8 when the threshold "
                         "is >=0.85 — the measured precision banding that "
                         "cuts verify candidates ~300x at identical "
                         "output — else 16)")
    ap.add_argument("--bits-min", type=float, default=None,
                    help="drop docs below this mean bits/word under the "
                         "corpus unigram model")
    ap.add_argument("--bits-max", type=float, default=None,
                    help="drop docs above this mean bits/word")
    ap.add_argument("--vocab-k", type=int, default=50000,
                    help="unigram-model vocabulary size for --bits-*")
    ap.add_argument("--lm-order", type=int, default=1, choices=(1, 2),
                    help="band-pass LM order: 1 = unigram, 2 = bigram "
                         "(conditional bits, unigram backoff; bigram "
                         "head also sized by --vocab-k)")
    ap.add_argument("--decontam-k", type=int, default=20)
    ap.add_argument("--decontam-min-hits", type=int, default=1)
    ap.add_argument("--train-frac", type=float, default=None,
                    help="add a deterministic train/test split column")
    ap.add_argument("--epoch", type=int, default=None,
                    help="write in epoch-shuffled order")
    ap.add_argument("--shards", type=int, default=None,
                    help="with --epoch: partition output by shard")
    ap.add_argument("--stage-counts", default=True,
                    action=argparse.BooleanOptionalAction,
                    help="report per-stage surviving doc counts (extra "
                         "count jobs; disable for one-pass runs)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    b = (SparkSession.builder.appName("hcd-spark-curation")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.worker.reuse", "true")
         .config("spark.sql.adaptive.enabled", "true")
         # chained self-referencing stages compound the logical plan;
         # AQE renders the plan string on every update, and an unbounded
         # render OOMed the driver before any task ran — cap it (1 MB is
         # far beyond human-readable already)
         .config("spark.sql.maxPlanStringLength", str(1 << 20))
         .config("spark.sql.shuffle.partitions",
                 os.environ.get("SPARK_GRAFT_SHUFFLE", "64")))
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()

    from hidden_characters_detector_spark.operators import (
        decontam, dedup, importance, line_dedup, sampling, text_analysis)
    from hidden_characters_detector_spark.operators.clean import (
        clean_documents)

    counts: dict[str, int] = {}

    def note(stage: str, df):
        if args.stage_counts:
            counts[stage] = df.count()
        return df

    docs = spark.read.parquet(args.input)
    id_col = "doc_id"
    note("input", docs)

    # 1. watermark clean: every downstream signal runs on pristine text
    cur = clean_documents(docs.select(id_col, "text"), keep=[id_col]) \
        .select(id_col, F.col("text_clean").alias("text"))
    # 2. quality + language
    if args.quality_min > 0:
        langs = args.lang or ["en"]
        scored = text_analysis.language_id(
            text_analysis.quality_scores(cur))
        cur = (scored
               .where((F.col("quality_score") >= args.quality_min)
                      & F.col("lang_pred").isin(langs))
               .select(id_col, "text"))
        note("quality_lang", cur)
    # 3. repetition filter
    if args.repetition_filter:
        rep = text_analysis.repetition_scores(cur).where(
            ~F.col("is_repetitive")).select(id_col)
        cur = cur.join(rep, id_col, "left_semi")
        note("repetition", cur)
    # 3b. unigram-LM band-pass: mean bits/word under the surviving
    # corpus' own top-k model (self-referential model keeps the CLI
    # dependency-free; production scores against a fixed reference model)
    if args.bits_min is not None or args.bits_max is not None:
        wc = text_analysis.word_counts(cur)
        total = wc.agg(F.sum("cnt")).collect()[0][0] or 1
        model = (wc.orderBy(F.col("cnt").desc(), F.col("word").asc())
                 .limit(args.vocab_k))
        if args.lm_order == 2:
            bi = (text_analysis.word_bigram_counts(cur)
                  .orderBy(F.col("cnt").desc(), "word_a", "word_b")
                  .limit(args.vocab_k))
            sc = text_analysis.bigram_logprob(cur, model, bi,
                                              total_words=total)
        else:
            sc = text_analysis.unigram_logprob(cur, model,
                                               total_words=total)
        lo = args.bits_min if args.bits_min is not None else float("-inf")
        hi = args.bits_max if args.bits_max is not None else float("inf")
        keep = (sc.where(F.col("bits_per_word").between(lo, hi))
                .select(id_col))
        cur = cur.join(keep, id_col, "left_semi")
        # truncate lineage: this stage references the corpus three times
        # (model counts, total, scores); left in the logical plan that
        # multiplies into EVERY downstream stage's plan — the compounded
        # tree gets exponentially large (measured: AQE's explain-string
        # alone OOMed).  localCheckpoint materializes the sliver and
        # resets the plan.  (Cluster caveat: blocks are executor-local;
        # prefer a reliable checkpoint dir under executor churn.)
        cur = cur.localCheckpoint()
        note("unigram_lm" if args.lm_order == 1 else "bigram_lm", cur)
    # 4. line/paragraph dedup.  In LINE mode, collapse within-doc
    # repeats first (repeated nav menus keep one copy even when no other
    # doc shares them; cross-doc distinct-doc counts are unaffected
    # either way).  In PARAGRAPH mode the within-line pass is SKIPPED:
    # rewriting lines inside a shared paragraph would make its hash
    # diverge across docs and let boilerplate escape the min_docs
    # threshold.
    if args.line_dedup:
        if args.paragraphs:
            cur = (line_dedup.dedup_lines(cur,
                                          min_docs=args.line_min_docs,
                                          sep_pattern=r"\n{2,}",
                                          join_sep="\n\n")
                   .select(id_col, F.col("text_dedup").alias("text")))
        else:
            cur = (line_dedup.dedup_lines_within(cur)
                   .select(id_col, F.col("text_dedup").alias("text")))
            cur = (line_dedup.dedup_lines(cur,
                                          min_docs=args.line_min_docs)
                   .select(id_col, F.col("text_dedup").alias("text")))
        note("line_dedup", cur)
    # 4b. exact substring dedup (ExactSubstr): after line dedup (line
    # removal changes span content) and before doc-level dedup (span
    # cuts can turn near-dups into exact dups the next stage collapses).
    # Lineage cut first: span detection + rebuild evaluate cur twice.
    if args.substr_k is not None:
        from hidden_characters_detector_spark.operators import substr_dedup
        cur = cur.localCheckpoint()
        cur = (substr_dedup.remove_duplicated_spans(
                   cur, k=args.substr_k, winnow=args.substr_winnow)
               .select(id_col, F.col("text_dedup").alias("text")))
        note("substr_dedup", cur)
    # 5. exact dedup (after line dedup: boilerplate removal creates dups)
    if args.exact_dedup:
        keep = dedup.exact_dedup(cur).select(id_col)
        cur = cur.join(keep, id_col, "left_semi")
        note("exact_dedup", cur)
    # 5b. near-dup dedup with LONGEST-member keeper election (content-
    # preserving policy: the un-truncated variant survives).  The two
    # persisted handles (groups from dedup_groups, reps materialized)
    # are released after the final write
    release = []
    if args.near_dedup:
        # pin the surviving corpus AND truncate lineage first: the
        # LSH->verify->CC pipeline evaluates its input several times
        # (band branch + two text re-attach branches + CC rounds);
        # without the cut each evaluation re-runs — and each re-plan
        # re-inlines — the whole upstream curation chain
        cur = cur.localCheckpoint()
        bands = args.near_bands if args.near_bands is not None \
            else (8 if args.near_threshold >= 0.85 else 16)
        groups = dedup.dedup_groups(
            cur, jaccard_threshold=args.near_threshold, bands=bands)
        scored = cur.select(
            id_col, F.length("text").cast("long").alias("_score"))
        reps = dedup.select_representatives(
            scored, groups, score_col="_score", materialize=True)
        cur = dedup.drop_non_representatives(cur, groups, reps)
        release += [groups, reps]
        note("near_dedup", cur)
    # 5b'. containment dedup: drop docs quoted verbatim inside a LARGER
    # surviving doc — the asymmetric case symmetric-Jaccard near-dedup
    # cannot see (a fully contained doc sits at Jaccard ≈ size ratio)
    if args.containment_drop is not None:
        cur = dedup.drop_contained(
            cur.localCheckpoint(),  # pair stage evaluates input twice
            min_containment=args.containment_drop)
        note("containment_dedup", cur)
    # 5c. cross-snapshot history dedup: drop docs whose text may already
    # be in the previous snapshot.  Bloom membership has NO false
    # negatives (nothing already in history survives) and the false
    # positives re-drop a few novel docs — the safe direction for
    # training data.  The history corpus itself never joins or
    # shuffles: one narrow build pass, then a broadcast probe.
    if args.history:
        from hidden_characters_detector_spark.operators import bloom
        hist = spark.read.parquet(args.history).select("text")
        n_hist = hist.count()
        bpk = args.bloom_bits_per_key
        m = max(64, (int(n_hist * bpk) + 7) & ~7)  # byte-aligned
        k = max(1, min(16, round(bpk * 0.6931)))   # ln2 * bits/key
        bits = bloom.bloom_build(hist, "text", m=m, k=k)
        cur = (bloom.bloom_might_contain_py(cur, bits, "text", m=m, k=k)
               .where(~F.col("might_contain")).drop("might_contain"))
        note("history_dedup", cur)
    # 6. decontamination
    if args.eval:
        evl = spark.read.parquet(args.eval).select(id_col, "text")
        cur = decontam.decontaminate(cur, evl, k=args.decontam_k,
                                     min_hits=args.decontam_min_hits)
        note("decontaminate", cur)
    # 6b. DSIR target-domain importance resampling: keep the --dsir-k
    # docs that look most like the --dsir-target domain (Gumbel-top-k
    # over the target-vs-raw unigram log-likelihood ratio).  The keep
    # set is k ids — a broadcast semi-join, the corpus never shuffles
    if args.dsir_target:
        if args.dsir_k is None:
            raise SystemExit("--dsir-target requires --dsir-k")
        tgt = spark.read.parquet(args.dsir_target).select(id_col, "text")

        def model_head(wc):
            total = wc.agg(F.sum("cnt")).collect()[0][0] or 1
            return (wc.orderBy(F.col("cnt").desc(), F.col("word").asc())
                    .limit(args.vocab_k), int(total))

        t_model, t_tot = model_head(text_analysis.word_counts(tgt))
        r_model, r_tot = model_head(text_analysis.word_counts(cur))
        keep = importance.dsir_sample(
            cur, t_model, r_model, k=args.dsir_k,
            target_total=t_tot, raw_total=r_tot).select(id_col)
        cur = cur.join(F.broadcast(keep), id_col, "left_semi")
        # same lineage-truncation rationale as the unigram stage: the
        # raw model + weights reference the corpus several times
        cur = cur.localCheckpoint()
        note("dsir_resample", cur)
    # 7. temperature-based source rebalancing (needs the source column)
    if args.mix_alpha is not None:
        if args.mix_budget is None:
            raise SystemExit("--mix-alpha requires --mix-budget")
        if "source" in docs.columns:
            mixed = cur.join(docs.select(id_col, "source"), id_col,
                             "left") \
                .withColumn("source",
                            F.coalesce("source", F.lit("unknown")))
        else:
            mixed = cur.withColumn("source", F.lit("unknown"))
        # NOT named `counts`: that is the stage-report dict above
        src_counts = {r["source"]: r["cnt"] for r in
                      mixed.groupBy("source")
                      .agg(F.count("*").alias("cnt")).collect()}
        cur = sampling.temperature_mix(
            mixed, src_counts, alpha=args.mix_alpha,
            total_budget=args.mix_budget).drop("source")
        note("temperature_mix", cur)
    # 8. split / epoch order / write — documents, or --blocks N: tokenize
    # and cut the corpus into cross-boundary N-token training blocks
    # (pack_blocks packs in doc_id order; shuffling means renumbering ids
    # upstream, so the order/split flags are rejected rather than
    # silently ignored)
    if args.blocks is not None:
        if args.epoch is not None or args.train_frac is not None:
            raise SystemExit("--blocks is incompatible with --epoch/"
                             "--train-frac (blocks pack in doc_id order "
                             "and carry no per-doc split)")
        from hidden_characters_detector_spark.operators import packing
        from hidden_characters_detector_spark.operators.text_ops import (
            tokenize)
        tok = tokenize(cur.select(id_col, "text"))
        writer_df = packing.pack_blocks(tok, block=args.blocks)
        partition_cols: list[str] = []
    else:
        if args.train_frac is not None:
            cur = sampling.train_test_split(cur,
                                            train_frac=args.train_frac)
        writer_df = cur
        partition_cols = []
        if args.epoch is not None:
            writer_df = sampling.epoch_shuffle(cur, args.epoch,
                                               n_shards=args.shards)
            if args.shards:
                partition_cols = ["shard"]
    w = writer_df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(args.output)

    for h in release:
        h.unpersist()
    final = spark.read.parquet(args.output).count()
    counts["written"] = final
    print("CURATION " + json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
