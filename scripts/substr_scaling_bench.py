#!/usr/bin/env python3
"""N -> 4N scaling evidence for exact substring dedup (ExactSubstr).

Same two-parallelism protocol as ``curation_scaling_bench.py``, applied
to ``substr_dedup.remove_duplicated_spans`` — the engine's newest heavy
operator, whose scale contract is ONE Θ(n) hash-keyed shuffle of
``(id, pos, h)`` rows (see the module docstring).  That shuffle is the
whole story at 100 TB, so its N -> 4N behavior is the number that
matters.

Corpus: the sf0.1 documents replicated with every SPACE substituted by
a per-replica private-use character (``chr(0xE000 + replica)``) — a
char-for-char bijection, so substring equality WITHIN a replica is
preserved EXACTLY in both directions: each replica carries precisely
the raw corpus' duplicated-span workload (no densification, no
effective-window shrink), while any 40-gram containing a space is
replica-unique.  ``stage_corpus`` asserts the two premises: no doc has
a 40-char space-free run (measured sf0.1: 0 docs — versus 1,909 of
5,000 with a 40-char ``'e'``-free run, which sank the first salt
design) and no doc already contains the PUA markers.  An earlier
insertion-based salt (marker inserted after every frequent char) kept
within-replica equality only one-way and SHRANK the effective input
window to ~22 chars, tripling the duplicated fraction (15.5% vs 4.7%
raw) — substitution avoids that class entirely.  Staged to parquet
ONCE so both configs read identical bytes.  Prints one JSON line;
paste the table into BENCH/BASELINE.md.

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
# 24 replicas x 5k docs = 120k docs / ~40M chars: local[8] runs ~15 s,
# well above the ~3 s fixed per-job floor (driver planning + worker IPC)
# that drowns small corpora — at 30k docs the same job measures 0.71
# efficiency purely from that floor (measured; see BENCH/BASELINE.md).
# Same amortization finding as curation_scaling_bench.py
REPLICAS = int(os.environ.get("SPARK_GRAFT_SUBSTR_REPLICAS", "24"))


def build(cpus: int):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"hcd-substr-scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(2 * cpus))
            .config("spark.default.parallelism", str(2 * cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "12g")
            .config("spark.python.worker.reuse", "true")
            .config("spark.python.worker.idleTimeoutSeconds", "3600")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def stage_corpus(path: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    spark = build(8)
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .select("doc_id", "text")
        bad = docs.where(F.col("text").rlike("[^ ]{40}")).count()
        if bad:
            raise SystemExit(
                f"{bad} docs have a 40-char space-free run — the "
                f"replica-uniqueness premise does not hold")
        markers = "".join(chr(0xE000 + i) for i in range(REPLICAS))
        taken = docs.where(F.col("text").rlike(f"[{markers}]")).count()
        if taken:
            raise SystemExit(
                f"{taken} docs already contain the PUA marker chars")
        reps = spark.createDataFrame(
            [(i, chr(0xE000 + i)) for i in range(REPLICAS)],
            "id long, marker string").repartition(16)
        (reps.crossJoin(F.broadcast(docs))
         .select(F.concat_ws("_", "doc_id", "id").alias("doc_id"),
                 F.replace(F.col("text"), F.lit(" "),
                           F.col("marker")).alias("text"))
         .write.mode("overwrite").parquet(path))
        staged = spark.read.parquet(path)
        row = staged.agg(F.count("*"), F.sum(F.length("text"))).collect()[0]
        return int(row[0]), int(row[1])
    finally:
        spark.stop()


def run_job(spark, corpus_path: str) -> None:
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import substr_dedup

    corpus = spark.read.parquet(corpus_path)
    (substr_dedup.remove_duplicated_spans(corpus, k=40)
     .agg(F.count("*"), F.sum(F.length("text_dedup"))).collect())


def measure(cpus: int, corpus_path: str, nchars: int,
            runs: int = 3, max_runs: int = 8) -> dict:
    spark = build(cpus)
    try:
        run_job(spark, corpus_path)   # warmup, off the clock
        times: list[float] = []
        for _ in range(max_runs):
            t0 = time.perf_counter()
            run_job(spark, corpus_path)
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
                "chars_per_sec": round(nchars / med)}
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=2)
    ap.add_argument("--big", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    corpus_path = "/tmp/hcd_substr_corpus"
    ndocs, nchars = stage_corpus(corpus_path)
    small = measure(args.small, corpus_path, nchars, args.runs)
    big = measure(args.big, corpus_path, nchars, args.runs)
    ratio = args.big // args.small
    eff = big["chars_per_sec"] / (ratio * small["chars_per_sec"])
    print(json.dumps({
        "docs": ndocs, "chars": nchars, "sf_dir": SF_DIR,
        "small": small, "big": big,
        "parallelism_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
        "meets_0.8": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
