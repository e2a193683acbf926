"""Exact substring deduplication (ExactSubstr, Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better").

Removes every repeated occurrence of any substring of length ≥ ``k``
that appears more than once in the corpus — across documents or within
one — keeping only the corpus-order first occurrence.  This is the
span-level member of the engine's dedup family (document level:
``dedup.exact_dedup`` / near-dup sketches; line/paragraph level:
``line_dedup``; sub-line spans: here).  The reference has no
counterpart (its unit of work is the single line,
``/root/reference/hidden-characters-detector.py:740-746``); the
operator follows the engine's LLM-curation brief.

Algorithm (the distributed analog of the paper's suffix-array scan):

1. every in-document ``k``-gram start position gets the same Horner
   rolling hash the sketch family uses (``dedup._rolling_hashes`` — one
   vectorized pass per Arrow batch, duplicates kept, positions kept);
2. a position is DUPLICATED iff its hash has an earlier occurrence in
   global ``(doc, pos)`` order.  Two physical strategies (``mark=``):
   ``"window"`` (default) — ``row_number() >= 2`` over a window
   partitioned by hash, ONE exchange + one sort; ``"join"`` — a
   partial-aggregated ``min(struct(id, pos))`` joined back, skew-proof
   for corpora with a boilerplate k-gram hot enough to straggle the
   window's single-task sort (tradeoff measured below).  Either way
   the first occurrence always survives, so at least one copy of every
   byte remains in the corpus (the paper's keep-one policy);
3. duplicated starts cover ``[pos, pos+k)``; overlapping/adjacent
   covers merge into maximal spans per document (gaps-and-islands over
   a per-document window);
4. optionally the spans are cut out of the text in one Arrow pass
   (interval-paint + ``cumsum`` mask over the batch's flat codepoints —
   no per-row Python, no O(i) JVM ``substring`` calls).

Scale contract: the verdict for EVERY position must cross a
hash-partitioned exchange once — ``Θ(n)`` rows of ``(id, pos, hash)``,
~24 bytes per corpus character.  That is the distributed price of
exact-substring semantics (the single-node price in the paper is an
8-byte/char suffix array plus a global sort — same order).  The
default ``mark="window"`` pays exactly that: one exchange + one
per-partition sort; its weakness is a hash occurring M times
corpus-wide, whose M rows sort in ONE task (a bounded straggler —
external sort spills rather than OOMs — but a straggler).
``mark="join"`` is skew-proof (the first-occurrence aggregate
partial-aggregates map-side, so hot keys collapse before the
exchange, and the mark join is broadcast or AQE-skew-split), at a
measured ~1.7× cost on heavy-dup corpora: ``min(struct)`` plans as
SortAggregate, so the join path sorts ~3× and exchanges 2× where the
window sorts and exchanges once (BENCH/BASELINE.md, round 5).  Pick
"join" when the corpus plausibly contains mega-hot boilerplate
k-grams (raw crawls); "window" otherwise.  Everything
after the verdict is sub-linear: marked
positions (duplicated content only) flow through one per-document
exchange, and the rebuild join touches only documents that own a span.
No raw text ever rides an exchange (plan-asserted in
``tests/test_plans.py``).

The 100-TB knob is ``winnow``: with ``winnow=w > 1`` only the winnowed
fingerprint positions (Schleimer et al. 2003, rightmost-min over every
``w``-window of consecutive ``k``-gram hashes) enter the verdict
shuffle — expected density ``2/(w+1)``, i.e. ~``(w+1)/2``× less
exchange volume — at a RECALL contract instead of exactness: any
duplicated substring of length ≥ ``w + k − 1`` selects at least one
common fingerprint in every occurrence (the winnowing guarantee), so it
is always detected, but reported span extents cover only the selected
positions' ``[pos, pos+k)`` windows (underestimates), and repeats
shorter than ``w + k − 1`` may be missed.  ``winnow=1`` is the exact
path.  Selection is content-local (pure function of the document's own
hash sequence), so identical substrings select identical relative
positions regardless of where they sit in the corpus — that is what
makes the guarantee hold across documents.

False-positive contract (shared with the whole sketch family): the
duplication verdict is 64-bit rolling-hash equality with NO content
verification — two distinct k-grams colliding mod 2⁶⁴ mark (and cut)
unique text.  Expected spurious marks ≈ C(n,2)/2⁶⁴: zero in practice
below ~10¹⁰ positions, material at the 10¹⁴-char extreme (~10⁸ false
k-gram marks ≈ a few parts per million of the corpus — still far below
the dup content being removed, but NOT "exact" in the cryptographic
sense; ``dedup.exact_dedup`` with its 128-bit digest is the
whole-document member with negligible collision mass).  The hash is
unseeded and linear, so ADVERSARIAL content can construct collisions;
run substring dedup on trusted/curated inputs, or treat
spans as candidates and verify bytes before cutting when the input is
hostile.  The DuckDB oracle replicates the same hash, so contract
tests validate the algorithm, not collision absence.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.synth import (append_column, flat_tokens_to_strings,
                             list_offsets, lists_to_flat_tokens,
                             strings_to_flat_tokens)
from .dedup import _rolling_hashes


_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _winnow_select(h: np.ndarray, off: np.ndarray, w: int
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Winnowed fingerprint positions over per-document hash sequences.

    For every in-document window of ``w`` consecutive hash positions
    (``[i, min(i+w, n))`` — the tail windows shrink, so every non-empty
    document selects at least one position), select the RIGHTMOST
    minimum; return the union as ``(flat indices into h, doc row per
    index)``, sorted.  O(n log w): a sparse-table doubling pass over the
    sentinel-padded flat array (pads are ``2^64−1``; a window whose real
    values are all ``2^64−1`` is clamped back to its rightmost real
    position, keeping numpy and the SQL oracle — which has no pads —
    identical).
    """
    n = h.size
    lens = np.diff(off)
    nrows = lens.shape[0]
    if n == 0:
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64))
    pad_off = np.concatenate(
        [[0], np.cumsum(lens + (w - 1), dtype=np.int64)])
    total = int(pad_off[-1])
    vals = np.full(total, _SENTINEL, dtype=np.uint64)
    row = np.repeat(np.arange(nrows, dtype=np.int64), lens)
    pos_in = np.arange(n, dtype=np.int64) - np.repeat(off[:-1], lens)
    starts = np.repeat(pad_off[:-1], lens) + pos_in
    vals[starts] = h
    # doubling: (min value, its RIGHTMOST padded position) per block of
    # size t; ties take the right operand (always the larger position —
    # for the final overlapped combine the right block owns the global
    # rightmost min whenever values tie)
    m, p = vals, np.arange(total, dtype=np.int64)
    t = 1
    while t * 2 <= w:
        right = m[t:] <= m[:-t]
        m = np.where(right, m[t:], m[:-t])
        p = np.where(right, p[t:], p[:-t])
        t *= 2
    left_m, left_p = m[starts], p[starts]
    right_m, right_p = m[starts + (w - t)], p[starts + (w - t)]
    right = right_m <= left_m
    sel = np.where(right, right_p, left_p)
    # all-sentinel-min windows (every real value == 2^64−1): clamp to the
    # window's rightmost REAL position
    last_real = starts + np.minimum(np.repeat(lens, lens) - pos_in, w) - 1
    sel = np.minimum(sel, last_real)
    flat = np.unique(np.repeat(off[:-1], lens) + (sel - np.repeat(
        pad_off[:-1], lens)))
    return flat, np.searchsorted(off, flat, side="right") - 1


def _position_rows(df: DataFrame, col: str, id_col: str, extract,
                   winnow: int = 1) -> DataFrame:
    """One row per in-document ``k``-gram start: ``(id, pos, h)``.

    ``extract`` maps the content column to (flat hashes uint64, row
    offsets) with positions IN ORDER (``dedup._rolling_hashes`` keeps
    them).  ``pos`` is the 0-based start offset inside the document;
    ``h`` is the uint64 hash reinterpreted as int64 — an internal
    grouping key, never a contract value.  Docs shorter than ``k`` emit
    nothing.  ``winnow > 1`` keeps only the winnowed fingerprint
    positions (see :func:`_winnow_select` and the module docstring).
    """
    if winnow < 1:
        raise ValueError(f"winnow must be >= 1, got {winnow}")
    slim = df.select(id_col, col)
    id_type = slim.schema[id_col].dataType.simpleString()
    ddl = f"{id_col} {id_type}, pos bigint, h bigint"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            h, off = extract(batch.column(col))
            if winnow > 1:
                flat, idx = _winnow_select(h, off, winnow)
                pos = flat - off[idx]
                h = h[flat]
            else:
                lens = np.diff(off)
                idx = np.repeat(np.arange(lens.shape[0], dtype=np.int64),
                                lens)
                pos = np.arange(h.shape[0], dtype=np.int64) - np.repeat(
                    off[:-1], lens)
            ids = batch.column(id_col).take(pa.array(idx, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(pos, type=pa.int64()),
                 pa.array(h.astype(np.int64), type=pa.int64())],
                names=[id_col, "pos", "h"])

    return slim.mapInArrow(run, ddl)


def position_hashes(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, k: int = 40,
                    winnow: int = 1) -> DataFrame:
    """``(id, pos, h)`` rows over a STRING corpus — one per char
    ``k``-gram start, or per winnowed fingerprint when ``winnow > 1``
    (see :func:`_position_rows`)."""
    return _position_rows(
        df, text_col, id_col,
        lambda c: _rolling_hashes(*strings_to_flat_tokens(c), k), winnow)


def token_position_hashes(df: DataFrame, tokens_col: str = "tokens",
                          id_col: str = "doc_id", *,
                          k: int = 40, winnow: int = 1) -> DataFrame:
    """:func:`position_hashes` over the TOKEN table (input_hint shape).
    The ``tokens`` arrays are codepoints, so hashes — and therefore
    spans — are identical to the text path's for equal content
    (parity-tested)."""
    return _position_rows(
        df, tokens_col, id_col,
        lambda c: _rolling_hashes(*lists_to_flat_tokens(c), k), winnow)


def _merge_spans(marked: DataFrame, id_col: str, k: int) -> DataFrame:
    """Maximal covered spans from duplicated start positions:
    gaps-and-islands — a new island starts where a position's cover
    ``[pos, pos+k)`` does not touch the running max end of everything
    before it.  One per-document exchange over DUPLICATED positions
    only; each document's marked list sorts in one task (bounded by
    document length, not corpus size)."""
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wd.rowsBetween(Window.unboundedPreceding, -1))
    new_isl = F.when(prev_end.isNull() | (F.col("pos") > prev_end),
                     1).otherwise(0)
    isl = F.sum(new_isl).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (marked.withColumn("_isl", isl)
            .groupBy(id_col, "_isl")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + k).cast("long").alias("span_end"))
            .drop("_isl"))


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", *, k: int = 40,
                     winnow: int = 1, mark: str = "window",
                     positions: DataFrame | None = None) -> DataFrame:
    """Maximal repeated-substring spans: ``(id, span_start, span_end)``,
    0-based half-open, covering every char that belongs to a ``k``-gram
    with an earlier occurrence in ``(doc, pos)`` order.  The globally
    first occurrence of any repeated substring is NOT spanned (keep-one).

    ``winnow > 1`` trades exactness for a ``~(w+1)/2``× smaller verdict
    shuffle: only winnowed fingerprints are checked, so spans cover the
    duplicated FINGERPRINT windows (detection of every repeat ≥
    ``winnow + k − 1`` chars is guaranteed; extents shrink and repeats
    shorter than that may be missed — see the module docstring).

    ``mark``: the verdict's physical strategy — ``"window"`` (default,
    one exchange + one sort; a mega-hot boilerplate hash becomes a
    single-task straggler) or ``"join"`` (skew-proof partial-agg
    min(struct) + mark join; measured ~1.7× slower on heavy-dup
    corpora — see the module docstring).  Identical output (tested).

    ``positions``: pre-built :func:`position_hashes` /
    :func:`token_position_hashes` rows (pass to run span detection over
    the token table); default = the text path over ``df``.

    Determinism: spans are a pure function of the corpus content — the
    first occurrence is the ``min`` over the unique ``(id, pos)`` key,
    so the output is identical under any partitioning (tested).
    """
    rows = (position_hashes(df, text_col, id_col, k=k, winnow=winnow)
            if positions is None else positions)
    if mark == "window":
        # one Θ(n) exchange + per-partition sort; a hash occurring M
        # times sorts its M rows in ONE task (windows are not
        # AQE-splittable), so a corpus-wide boilerplate k-gram becomes
        # a bounded straggler (external sort spills, no OOM) — use
        # mark="join" for corpora where that key exists.  Measured
        # 1.7× faster than "join" at local[8] on a 120k-doc/36M-char
        # heavy-dup corpus (see BENCH/BASELINE.md): min(struct) plans
        # as SortAggregate, so the join path pays ~3 full sorts + 2
        # exchanges vs this path's 1 + 1.
        wh = Window.partitionBy("h").orderBy(id_col, "pos")
        marked = (rows.withColumn("_rn", F.row_number().over(wh))
                  .where(F.col("_rn") >= 2).drop("_rn", "h"))
    elif mark == "join":
        # skew-proof: the corpus-order first occurrence per hash is a
        # partial-aggregatable min(struct) — map-side combine collapses
        # hot keys before the exchange — and the mark join broadcasts
        # the duplicated-hash table when it is small (stats/AQE decide;
        # a heavy-dup corpus falls back to an AQE-skew-splittable SMJ).
        # No single task ever owns a hot hash's full occurrence list.
        firsts = (rows.groupBy("h")
                  .agg(F.min(F.struct(id_col, "pos")).alias("_first"),
                       F.count(F.lit(1)).alias("_n"))
                  .where(F.col("_n") >= 2)
                  .select("h", "_first"))
        marked = (rows.join(firsts, "h")
                  .where(F.struct(id_col, "pos") != F.col("_first"))
                  .select(id_col, "pos"))
    else:
        raise ValueError(f"mark must be 'window' or 'join', got {mark!r}")
    return _merge_spans(marked, id_col, k)


def remove_duplicated_spans(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", *, k: int = 40,
                            winnow: int = 1, mark: str = "window",
                            spans: DataFrame | None = None,
                            out_col: str = "text_dedup",
                            broadcast_spans: bool = True) -> DataFrame:
    """Cut the duplicated spans out of each document.

    Output = ``df``'s columns plus ``out_col`` (the rebuilt text);
    documents with no spans pass through verbatim, NULL text rebuilds as
    empty (the ``line_dedup`` convention).  The rebuild is one Arrow
    pass: interval-paint (+1/−1 deltas, ``cumsum``) over the batch's
    flat codepoints, then a single bulk re-encode — no per-row Python,
    no O(i) JVM ``substring``.

    ``broadcast_spans=True`` (default) broadcasts the per-document span
    lists so the corpus side never shuffles for the join — right
    whenever duplicated content is a modest fraction of the corpus.  Set
    ``False`` when the span table itself is too large to broadcast (a
    heavily-duplicated crawl) and pay one corpus exchange instead.
    """
    if spans is None:
        spans = duplicated_spans(df, text_col, id_col, k=k,
                                 winnow=winnow, mark=mark)
    per_doc = (spans.groupBy(id_col)
               .agg(F.sort_array(F.collect_list(
                   F.struct("span_start", "span_end"))).alias("_spans")))
    if broadcast_spans:
        per_doc = F.broadcast(per_doc)
    # the join reorders columns (join key first) — keep df's column order
    joined = df.join(per_doc, id_col, "left").select(*df.columns, "_spans")

    def rebuild(batch: pa.RecordBatch) -> pa.Array:
        flat, off = strings_to_flat_tokens(batch.column(text_col))
        sp = batch.column("_spans")  # list<struct<span_start, span_end>>
        flat_sp = sp.flatten()
        starts = flat_sp.field("span_start").to_numpy(
            zero_copy_only=False).astype(np.int64)
        ends = flat_sp.field("span_end").to_numpy(
            zero_copy_only=False).astype(np.int64)
        row_of_span = np.repeat(np.arange(len(sp), dtype=np.int64),
                                np.diff(list_offsets(sp)))
        doc_start = off[:-1][row_of_span]
        doc_len = np.diff(off)[row_of_span]
        # clip foreign spans to the document (spans built here are always
        # in range; clipping keeps caller-supplied spans safe)
        gs = doc_start + np.clip(starts, 0, doc_len)
        ge = np.maximum(doc_start + np.clip(ends, 0, doc_len), gs)
        delta = np.zeros(flat.shape[0] + 1, dtype=np.int64)
        np.add.at(delta, gs, 1)
        np.add.at(delta, ge, -1)
        keep = np.cumsum(delta[:-1]) == 0
        # per-row kept counts from the mask itself (robust to overlapping
        # caller-supplied spans, where summing span lengths would
        # double-count)
        nrows = off.shape[0] - 1
        row_of_char = np.repeat(np.arange(nrows, dtype=np.int64),
                                np.diff(off))
        kept_per_row = np.bincount(row_of_char[keep], minlength=nrows)
        new_off = np.concatenate(
            [[0], np.cumsum(kept_per_row, dtype=np.int64)])
        return flat_tokens_to_strings(flat[keep], new_off)

    return append_column(joined, f"{out_col} string", rebuild,
                         drop=("_spans",))
