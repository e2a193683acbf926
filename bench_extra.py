#!/usr/bin/env python3
"""Extra benchmarks for optimization work — bench.py itself is frozen.

Two modes:

* ``python bench_extra.py q1 q2 ...`` — isolate a subset of bench.py's
  queries (same corpus, same warmup, same best-of-3 protocol) so one
  query can be re-measured in ~1 min instead of re-running the full
  suite.  Prints one JSON line ``{"queries": {...}}``.
* ``python bench_extra.py --clean-decomposition`` — the Python-boundary
  decomposition quoted in OPTIMIZATION_r06.md: times the production
  ``clean_detect`` aggregate against (a) a counters-only kernel variant
  (no cleaned-token payload emitted), (b) an identity ``mapInArrow``
  round-trip of the same table (the pure JVM↔Python serialization
  floor), and (c) a plain JVM aggregate (the no-Python floor).

Honors the same env contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS, $SPARK_GRAFT_BENCH_ROWS).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hidden_characters_detector_spark.functions import kernel  # noqa: E402

kernel.pin_allocator_env()
os.environ.setdefault("MALLOC_TOP_PAD_", str(128 << 20))


def _best_of(fn, n=3):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def isolate(names: list[str]) -> None:
    import bench

    spark = bench.build_spark(bench.CPUS)
    try:
        tok, _ = bench.corpus(spark, bench.CPUS)
        tok = tok.localCheckpoint()
        qs = bench.bench_queries(spark, tok)
        qs.update(bench.bench_dedup(spark, bench.CPUS))
        qs.update(bench.bench_packing(spark, tok))
        qs.update(bench.bench_curation(spark, bench.CPUS))
        qs.update(bench.bench_bloom(spark, bench.CPUS))
        qs.update(bench.bench_ann(spark, bench.CPUS))
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries {unknown}; "
                             f"have {sorted(qs)}")
        sel = {n: qs[n] for n in names}
        for _ in range(bench.WARMUP_ROUNDS):
            for fn in sel.values():
                fn()
        print(json.dumps(
            {"queries": {n: _best_of(fn) for n, fn in sel.items()},
             "cpus": bench.CPUS, "sf": bench.SF_DIR}))
    finally:
        spark.stop()


def clean_decomposition() -> None:
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    import bench
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.functions.kernel import FULL_CLEAN
    from hidden_characters_detector_spark.operators.clean import clean_detect
    from hidden_characters_detector_spark.sources.synth import (
        lists_to_flat_tokens)

    spark = bench.build_spark(bench.CPUS)
    try:
        tok, _ = bench.corpus(spark, bench.CPUS)
        tok = tok.localCheckpoint()
        full = clean_detect(tok, FULL_CLEAN)

        def agg(df):
            return lambda: df.agg(
                F.count("*"), F.sum("n_detected"), F.sum("n_tok_clean"),
                F.sum(F.col("had_marker").cast("long"))).collect()

        passthrough = [f.name for f in tok.schema.fields
                       if f.name != "tokens"]
        co_ddl = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}"
             for f in tok.schema.fields if f.name != "tokens"]
            + ["n_tok_clean int", "n_detected int", "had_marker boolean"])

        def co_run(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                toks, offsets = lists_to_flat_tokens(batch.column("tokens"))
                res = kernel.clean_flat(toks, offsets, FULL_CLEAN)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(c) for c in passthrough]
                    + [pa.array(np.diff(res.out_offsets),
                                type=pa.int32()),
                       pa.array(res.n_detected, type=pa.int32()),
                       pa.array(res.had_marker, type=pa.bool_())],
                    names=passthrough + ["n_tok_clean", "n_detected",
                                         "had_marker"])

        counters = tok.mapInArrow(co_run, co_ddl)
        id_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in tok.schema.fields)

        def id_run(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
            yield from batches

        ident = tok.mapInArrow(id_run, id_ddl)
        cases = {
            "clean_full_prod": agg(full),
            "kernel_counters_only": agg(counters),
            "identity_roundtrip": lambda: ident.agg(
                F.count("*"), F.sum("n_tok")).collect(),
            "plain_jvm_agg": lambda: tok.agg(
                F.count("*"), F.sum("n_tok")).collect(),
        }
        for _ in range(2):
            for fn in cases.values():
                fn()
        print(json.dumps({n: _best_of(fn) for n, fn in cases.items()}))
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--clean-decomposition":
        clean_decomposition()
    elif len(sys.argv) > 1:
        isolate(sys.argv[1:])
    else:
        raise SystemExit(__doc__)
