#!/usr/bin/env python3
"""N -> 4N scaling evidence for the round-5 block/Bloom operators.

Same two-parallelism protocol as ``scaling_bench.py`` /
``curation_scaling_bench.py``, applied to the two late-round-5 additions
run back-to-back as ONE job:

* cross-snapshot Bloom membership (``bloom.bloom_build`` +
  ``bloom.bloom_might_contain_py``) — narrow position explode +
  per-partition bitset partials, then a broadcast Arrow probe;
* cross-boundary block packing (``packing.pack_blocks``) — bucketed
  two-level cumsum on the narrow projection + the single token-bearing
  block regroup exchange.

Both inputs are staged to parquet ONCE so both configs read identical
bytes.  Prints one JSON line; paste the table into BENCH/BASELINE.md
(do NOT let scaling_bench.py overwrite that file's appended history).

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
# 90 replicas = 450k docs — same fixed-cost amortization rationale as
# curation_scaling_bench.py (at 150k docs the ~3 s/job planning floor
# dominates and fakes a low efficiency)
REPLICAS = int(os.environ.get("SPARK_GRAFT_BLOOM_REPLICAS", "90"))
BLOOM_M, BLOOM_K = 1 << 23, 5  # ~18 bits/key at 450k keys


def build(cpus: int):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"hcd-blockops-scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(2 * cpus))
            .config("spark.default.parallelism", str(2 * cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "12g")
            .config("spark.python.worker.reuse", "true")
            .config("spark.python.worker.idleTimeoutSeconds", "3600")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def stage_corpus(text_path: str, tok_path: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.sources import synth

    spark = build(8)
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .select("doc_id", "text")
        reps = spark.range(0, REPLICAS, 1, numPartitions=16)
        (reps.crossJoin(F.broadcast(docs))
         .selectExpr("concat(doc_id, '_', id) AS doc_id",
                     "concat(id, '_', text) AS text")
         .write.mode("overwrite").parquet(text_path))
        n_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").count()
        tok = synth.token_table(spark, SF_DIR,
                                replicate=max(1, 600_000 // n_docs),
                                partitions=16)
        (tok.selectExpr("CAST(substr(doc_id, 4) AS LONG) AS doc_id",
                        "tokens")
         .write.mode("overwrite").parquet(tok_path))
        return (spark.read.parquet(text_path).count(),
                spark.read.parquet(tok_path).count())
    finally:
        spark.stop()


def run_job(spark, text_path: str, tok_path: str) -> None:
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import bloom, packing

    corpus = spark.read.parquet(text_path)
    bits = bloom.bloom_build(corpus, "text", m=BLOOM_M, k=BLOOM_K)
    (bloom.bloom_might_contain_py(corpus, bits, "text",
                                  m=BLOOM_M, k=BLOOM_K)
     .agg(F.count("*"),
          F.sum(F.col("might_contain").cast("long"))).collect())
    tok = spark.read.parquet(tok_path)
    (packing.pack_blocks(tok, block=2048)
     .agg(F.count("*"), F.sum("n_tokens")).collect())


def measure(cpus: int, text_path: str, tok_path: str, nrows: int,
            runs: int = 3, max_runs: int = 10) -> dict:
    spark = build(cpus)
    try:
        run_job(spark, text_path, tok_path)   # warmup, off the clock
        times: list[float] = []
        for _ in range(max_runs):
            t0 = time.perf_counter()
            run_job(spark, text_path, tok_path)
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

    text_path = "/tmp/hcd_bloom_corpus"
    tok_path = "/tmp/hcd_block_tokens"
    n_text, n_tok = stage_corpus(text_path, tok_path)
    nrows = n_text + n_tok
    small = measure(args.small, text_path, tok_path, nrows, args.runs)
    big = measure(args.big, text_path, tok_path, nrows, args.runs)
    ratio = args.big // args.small
    eff = big["rows_per_sec"] / (ratio * small["rows_per_sec"])
    print(json.dumps({
        "bloom_rows": n_text, "block_rows": n_tok, "sf_dir": SF_DIR,
        "small": small, "big": big,
        "parallelism_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
        "meets_0.8": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
