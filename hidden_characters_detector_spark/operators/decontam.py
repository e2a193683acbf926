"""Benchmark decontamination for training-data pipelines.

A training corpus that contains verbatim chunks of an evaluation benchmark
inflates eval scores; the standard guard (GPT-3 appendix C, PaLM §6, and
the open reproductions) flags every training document sharing any
``k``-gram with the eval set and drops or audits it.  Character
``k``-grams (k≈20) rather than word tokens: tokenizer-independent and
robust to whitespace/punctuation drift, the same shingle definition the
near-dup operators use (``dedup._flat_shingle_hashes`` — one vectorized
rolling-hash pass per Arrow batch, no per-doc Python).

Scale shape (100 TB framing):

* each side reduces to DISTINCT ``(doc_id, shingle_hash)`` rows inside the
  Arrow kernel (segment-wise dedup, no Spark shuffle for the per-doc
  distinct);
* the eval side is a benchmark — thousands of documents, millions of
  shingles at most — so its distinct hash set is BROADCAST and the train
  side's membership probe (a left-semi join) never shuffles;
* the per-doc hit count is a partial-aggregated groupBy on ``doc_id``
  carrying two longs;
* the final drop is a left-anti join of train against the (small)
  contaminated-id list.

No all-pairs comparison anywhere: cost is one kernel pass per side plus
one broadcast probe.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synth import append_column, lists_to_flat_tokens
from .dedup import _flat_shingle_hashes, _rolling_hashes, _unique_per_doc


def _shingle_rows(df: DataFrame, col: str, id_col: str, extract
                  ) -> DataFrame:
    """Shared kernel shape for both shingle-row producers: per batch,
    ``extract`` yields (flat hashes uint64, row offsets); the kernel then
    dedups per doc segment-wise and gathers ids — the emitted relation is
    already distinct per document, so downstream joins need no
    ``dropDuplicates`` shuffle."""
    slim = df.select(id_col, col)
    id_type = slim.schema[id_col].dataType.simpleString()
    ddl = f"{id_col} {id_type}, shingle_hash bigint"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            h, off = extract(batch.column(col))
            uh, uoff = _unique_per_doc(h, off)
            lens = np.diff(uoff)
            idx = np.repeat(np.arange(lens.shape[0], dtype=np.int64), lens)
            ids = batch.column(id_col).take(pa.array(idx, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(uh.astype(np.int64), type=pa.int64())],
                names=[id_col, "shingle_hash"])

    return slim.mapInArrow(run, ddl)


def doc_shingle_hashes(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *, k: int = 20) -> DataFrame:
    """One row per (doc, DISTINCT char-``k``-gram rolling hash).

    The whole fan-out happens inside the Arrow kernel (see
    :func:`_shingle_rows`).  Docs shorter than ``k`` emit nothing (no
    signal).  Hashes are the uint64 rolling values reinterpreted as int64
    — an internal join key, never a contract value.
    """
    return _shingle_rows(df, text_col, id_col,
                         lambda c: _flat_shingle_hashes(c, k))


def token_shingle_hashes(df: DataFrame, tokens_col: str = "tokens",
                         id_col: str = "doc_id", *,
                         k: int = 20) -> DataFrame:
    """:func:`doc_shingle_hashes` over the TOKEN table: the ``tokens``
    arrays are codepoints (input_hint), so the hashes are identical to the
    text path's for equal content — a corpus ingested as text and an eval
    set stored pre-tokenized decontaminate against each other exactly."""
    return _shingle_rows(
        df, tokens_col, id_col,
        lambda c: _rolling_hashes(*lists_to_flat_tokens(c), k))


def _eval_hash_set(hashes: DataFrame) -> np.ndarray:
    """Sorted distinct int64 ``shingle_hash`` values of an eval-side hash
    relation.  Deduplicated on the driver (``np.unique`` sorts): the
    relation is benchmark-sized by design, and skipping a ``.distinct()``
    saves its exchange stage inside the eval-build job."""
    return np.unique(hashes.select("shingle_hash").toArrow()
                     .column(0).to_numpy())


def _eval_probe(bc) -> Callable[[np.ndarray], np.ndarray]:
    """Membership mask of int64 hashes in the broadcast sorted eval set
    ``bc`` (:func:`_eval_hash_set`).  A one-byte prefilter table on the
    hash low bits (≥8× the eval count, power of two, built once per task
    on first use) resolves most probes with ONE table read instead of a
    log2(|eval|)-step binary search; survivors (true hits + the ≤1/8
    false-positive slots) are confirmed exactly by ``searchsorted``."""
    tbl = None

    def probe(h: np.ndarray) -> np.ndarray:
        nonlocal tbl
        ev = bc.value
        hit = np.zeros(h.size, dtype=bool)
        if not (h.size and ev.size):
            return hit
        if tbl is None:
            tbl = np.zeros(1 << max(16, int(ev.size * 8 - 1).bit_length()),
                           dtype=np.uint8)
            tbl[ev & (tbl.size - 1)] = 1
        cpos = np.flatnonzero(tbl[h & (tbl.size - 1)])
        sub = h[cpos]
        idx = np.minimum(np.searchsorted(ev, sub), ev.size - 1)
        hit[cpos[ev[idx] == sub]] = True
        return hit

    return probe


def build_eval_filter(spark, eval_df: DataFrame, *,
                      tokens_col: str = "tokens", id_col: str = "doc_id",
                      k: int = 20):
    """Materialize the eval set's DISTINCT token-shingle hashes as a
    SORTED numpy array and broadcast it to the executors.

    This is the one place the engine pulls data to the driver — by
    design: a broadcast variable IS driver-materialized, and the eval
    side is benchmark-sized (millions of shingles at most → tens of MB).
    The returned broadcast feeds :func:`mark_contaminated`, which is
    STATELESS — usable inside a streaming query, where a join against a
    static DataFrame would re-plan per micro-batch and a stream-stream
    join would need watermarks the static eval set doesn't have.
    """
    return spark.sparkContext.broadcast(_eval_hash_set(
        token_shingle_hashes(eval_df, tokens_col, id_col, k=k)))


def mark_contaminated(df: DataFrame, eval_hashes, *,
                      tokens_col: str = "tokens",
                      k: int = 20) -> DataFrame:
    """Append ``contaminated: boolean`` — True iff the row's token array
    shares any ``k``-gram hash with the broadcast eval set
    (:func:`build_eval_filter`).  Pure stateless ``mapInArrow`` (one
    rolling-hash pass + :func:`_eval_probe` per batch), so it drops into
    batch AND streaming plans unchanged — the streaming ingestion guard
    that keeps leaked benchmark items out of the clean sink at the door."""
    probe = _eval_probe(eval_hashes)

    def flags(batch: pa.RecordBatch) -> pa.Array:
        h, hoff = _rolling_hashes(
            *lists_to_flat_tokens(batch.column(tokens_col)), k)
        hits = np.flatnonzero(probe(h.view(np.int64)))
        return pa.array(np.diff(np.searchsorted(hits, hoff)) > 0)

    return append_column(df, "contaminated boolean", flags)


def contamination_report(train: DataFrame, eval_df: DataFrame, *,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 20,
                         broadcast_eval: bool = True) -> DataFrame:
    """Per-contaminated-doc audit: ``(id_col, n_hits)`` where ``n_hits``
    is the number of DISTINCT ``k``-gram hashes the training document
    shares with the eval set.  Clean documents emit no row.

    ``broadcast_eval`` (default) broadcasts the eval set's distinct hash
    set — correct whenever the eval side is benchmark-sized — and fuses
    the membership probe INTO the train-side shingle kernel: the hit
    count per document is computed against the sorted broadcast array in
    the same vectorized pass that produces the shingles, so the
    per-(doc, shingle) fan-out — ~one row per corpus character — is
    never materialized through the Arrow boundary or a join at all; only
    ``(id, n_hits)`` rows for HIT documents leave the kernel (identical
    result to the relational form: same distinct-per-doc hash sets, same
    membership, summed per id).  Pass ``False`` to keep the relational
    shuffle semi-join for an unusually large eval corpus.
    """
    if broadcast_eval:
        probe = _eval_probe(train.sparkSession.sparkContext.broadcast(
            _eval_hash_set(doc_shingle_hashes(eval_df, text_col, id_col,
                                              k=k))))
        slim = train.select(id_col, text_col)
        id_type = slim.schema[id_col].dataType.simpleString()

        def run(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                h, off = _flat_shingle_hashes(batch.column(text_col), k)
                sh = h.view(np.int64)
                # probe FIRST (duplicates included — a hash hits for all
                # or none of its repeats), then dedupe per doc among the
                # HIT positions only: the segment-wise distinct runs over
                # the leak sliver, not the whole corpus' shingle stream
                hits = np.flatnonzero(probe(sh))
                _, uoff = _unique_per_doc(sh[hits],
                                          np.searchsorted(hits, off))
                counts = np.diff(uoff)
                nz = np.flatnonzero(counts)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(id_col).take(pa.array(nz)),
                     pa.array(counts[nz], type=pa.int64())],
                    names=[id_col, "n_hits"])

        # one tiny aggregation over HIT docs only: merges rows of a doc
        # split across batches (and duplicate-id inputs) exactly like the
        # relational groupBy did
        return (slim.mapInArrow(run, f"{id_col} {id_type}, n_hits bigint")
                .groupBy(id_col)
                .agg(F.sum("n_hits").cast("long").alias("n_hits")))
    th = doc_shingle_hashes(train, text_col, id_col, k=k)
    eh = (doc_shingle_hashes(eval_df, text_col, id_col, k=k)
          .select("shingle_hash").dropDuplicates())
    return (th.join(eh, "shingle_hash", "left_semi")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_hits")))


def eval_contamination(train: DataFrame, eval_df: DataFrame, *,
                       text_col: str = "text", id_col: str = "doc_id",
                       k: int = 20,
                       broadcast_eval: bool = True) -> DataFrame:
    """The EVAL-side audit — for each benchmark item, how much of it
    leaked into the training corpus: ``(id_col, n_shingles, n_leaked,
    n_train_docs, leak_frac)`` where ``n_shingles`` counts the item's
    distinct ``k``-gram hashes, ``n_leaked`` how many of those occur
    anywhere in train, ``n_train_docs`` how many distinct training docs
    share ≥1 of them, and ``leak_frac = n_leaked / n_shingles`` (0.0 for
    shingle-less items).  The train-side report
    (:func:`contamination_report`) answers "which training docs to
    drop"; this one answers "which eval items are already compromised" —
    the number a benchmark-integrity review actually quotes.

    Every eval item emits a row (clean items score zeros).

    Scale shape: both sides reduce to distinct ``(doc, hash)`` rows
    inside the Arrow kernel; the benchmark-sized eval side is BROADCAST
    into the hash join (train never shuffles to meet it), the match set
    is bounded by true leaks × sharing docs, and the two distinct-counts
    are one partial-aggregated ``groupBy(eval id)``."""
    th = doc_shingle_hashes(train, text_col, id_col, k=k) \
        .withColumnRenamed(id_col, "_train_id")
    eh = doc_shingle_hashes(eval_df, text_col, id_col, k=k)
    base = eh.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"))
    probe = eh if not broadcast_eval else F.broadcast(eh)
    matches = probe.join(th, "shingle_hash")
    hits = matches.groupBy(id_col).agg(
        F.count_distinct("shingle_hash").cast("long").alias("n_leaked"),
        F.count_distinct("_train_id").cast("long").alias("n_train_docs"))
    joined = (eval_df.select(id_col).distinct()
              .join(base, id_col, "left")
              .join(hits, id_col, "left"))
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0))
    n_lk = F.coalesce(F.col("n_leaked"), F.lit(0))
    return joined.select(
        id_col,
        n_sh.alias("n_shingles"),
        n_lk.alias("n_leaked"),
        F.coalesce(F.col("n_train_docs"), F.lit(0)).alias("n_train_docs"),
        F.when(n_sh > 0, F.round(n_lk / n_sh.cast("double"), 6))
        .otherwise(0.0).alias("leak_frac"))


def decontaminate(train: DataFrame, eval_df: DataFrame, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 20, min_hits: int = 1,
                  broadcast_eval: bool = True) -> DataFrame:
    """Drop every training document sharing ≥ ``min_hits`` distinct
    ``k``-grams with the eval set; returns the surviving train rows with
    their original schema.  ``min_hits > 1`` tolerates incidental single
    collisions (common short boilerplate) while still catching quoted
    benchmark items."""
    bad = (contamination_report(train, eval_df, text_col=text_col,
                                id_col=id_col, k=k,
                                broadcast_eval=broadcast_eval)
           .where(F.col("n_hits") >= min_hits)
           .select(id_col))
    return train.join(bad, id_col, "left_anti")
