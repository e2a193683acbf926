#!/usr/bin/env python3
"""N -> 4N scaling evidence for the round-5 curation operators.

Same two-parallelism protocol as ``scaling_bench.py`` (which evidences the
clean+density job), applied to the batch curation sweep's two new heavy
stages run back-to-back as ONE job:

* cross-document line dedup (``line_dedup.dedup_lines``) — count shuffle
  on line hashes + broadcast probe + per-doc rebuild;
* benchmark decontamination (``decontam.contamination_report``) — Arrow
  shingle kernel both sides + broadcast semi-join + per-doc hit count.

The corpus is the replicated multiline fixture from ``bench.py``
(boilerplate headers/footers shared across replicas, eval items as
substrings of base docs), staged to parquet ONCE so both configs read
identical bytes.  Prints one JSON line; paste the table into
BENCH/BASELINE.md (do NOT let scaling_bench.py overwrite that file's
appended history sections).

MACHINE MUST BE OTHERWISE IDLE.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from hidden_characters_detector_spark.functions import kernel  # noqa: E402

kernel.pin_allocator_env()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# 90 replicas = 450k docs: large enough to amortize the fixed per-job cost
# (driver planning + broadcast build + worker IPC, ~3 s/job on this VM) —
# at 30 replicas/150k docs the same job measures 0.45 efficiency purely
# from that floor (measured; see BENCH/BASELINE.md round-5 section)
REPLICAS = int(os.environ.get("SPARK_GRAFT_CURATION_REPLICAS", "90"))


def build(cpus: int):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"hcd-curation-scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(2 * cpus))
            .config("spark.default.parallelism", str(2 * cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "12g")
            .config("spark.python.worker.reuse", "true")
            .config("spark.python.worker.idleTimeoutSeconds", "3600")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def stage_corpus(path: str, eval_path: str) -> int:
    from pyspark.sql import functions as F

    spark = build(8)
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .select("doc_id", "text")
        reps = spark.range(0, REPLICAS, 1, numPartitions=16)
        corpus = (reps.crossJoin(F.broadcast(docs))
                  .selectExpr(
                      "concat(doc_id, '_', id) AS doc_id",
                      "concat('shared header v', doc_id % 4, char(10), "
                      "replace(text, ' the ', char(10)), char(10), "
                      "'shared corpus footer') AS text"))
        corpus.write.mode("overwrite").parquet(path)
        docs.where("doc_id % 7 = 0") \
            .selectExpr("doc_id", "substr(text, 11) AS text") \
            .write.mode("overwrite").parquet(eval_path)
        return spark.read.parquet(path).count()
    finally:
        spark.stop()


def run_job(spark, corpus_path: str, eval_path: str) -> None:
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import (decontam,
                                                            line_dedup)

    corpus = spark.read.parquet(corpus_path)
    evl = spark.read.parquet(eval_path)
    (line_dedup.dedup_lines(corpus, min_docs=50)
     .agg(F.count("*"), F.sum("n_lines_dropped")).collect())
    (decontam.contamination_report(corpus, evl, k=20)
     .agg(F.count("*"), F.sum("n_hits")).collect())


def measure(cpus: int, corpus_path: str, eval_path: str, nrows: int,
            runs: int = 3, max_runs: int = 10) -> dict:
    spark = build(cpus)
    try:
        run_job(spark, corpus_path, eval_path)   # warmup, off the clock
        times: list[float] = []
        for _ in range(max_runs):
            t0 = time.perf_counter()
            run_job(spark, corpus_path, eval_path)
            times.append(time.perf_counter() - t0)
            tail = times[-runs:]
            if (len(tail) == runs
                    and (max(tail) - min(tail))
                    < 0.25 * statistics.median(tail)):
                break
        tail = sorted(times)[:runs]
        med = statistics.median(tail)
        return {"cpus": cpus, "times_s": [round(t, 2) for t in times],
                "steady_s": [round(t, 2) for t in tail],
                "median_s": round(med, 2),
                "rows_per_sec": round(nrows / med)}
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=2)
    ap.add_argument("--big", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    corpus_path = "/tmp/hcd_curation_corpus"
    eval_path = "/tmp/hcd_curation_eval"
    nrows = stage_corpus(corpus_path, eval_path)
    small = measure(args.small, corpus_path, eval_path, nrows, args.runs)
    big = measure(args.big, corpus_path, eval_path, nrows, args.runs)
    ratio = args.big // args.small
    eff = big["rows_per_sec"] / (ratio * small["rows_per_sec"])
    print(json.dumps({
        "rows": nrows, "sf_dir": SF_DIR,
        "small": small, "big": big,
        "parallelism_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
        "meets_0.8": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
