"""Spark operators: vectorized clean/detect over token or text columns.

The reference's fused scan→classify→transform→aggregate pass
(``/root/reference/hidden-characters-detector.py:648-779``) becomes a single
``mapInArrow`` operator: each Arrow RecordBatch's input column is decoded to
one flat numpy codepoint array plus row offsets (zero-copy for
``list<int32>``, one UTF-32 encode for strings), so the Python side is pure
whole-batch numpy — no per-row Python, per BASELINE.json ``input_hint``.

Two outputs, each over ``tokens: array<int>`` or a string column:

* per sequence (FileProcessResult analog, ref :534-542): passthrough
  columns + the cleaned sequence + counters — :func:`clean_detect`
  (tokens) and :func:`clean_documents` (text);
* per detection event (MarkerReport analog, ref :524-532), emitted
  directly from the kernel masks with Arrow ``take`` fan-out; no
  intermediate nested lists, no ``explode`` shuffle —
  :func:`detect_events` (tokens) and :func:`document_events` (text).

The text operators are the fused form of ``tokenize`` → token operator:
one Python worker hop and one serialization of the corpus instead of
three.  All four share one body, :func:`kernel_batches`, which the
streaming pipeline also runs inside its staging task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..functions import kernel
from ..functions.kernel import DetectorConfig, FULL_CLEAN
from ..sources.synth import (flat_tokens_to_lists, flat_tokens_to_strings,
                             lists_to_flat_tokens, strings_to_flat_tokens)

COUNTER_COL_TYPES = (("n_tok_clean", "int"), ("n_detected", "int"),
                     ("n_processed", "int"), ("had_marker", "boolean"),
                     ("n_hidden", "int"), ("n_ivs", "int"),
                     ("n_typo", "int"))
EVENT_COL_TYPES = (("line_no", "int"), ("idx", "int"), ("token", "int"),
                   ("marker_type", "string"), ("description", "string"),
                   ("action", "string"), ("replacement", "array<int>"))
COUNTERS = [n for n, _ in COUNTER_COL_TYPES]
_COL_TYPES = dict(COUNTER_COL_TYPES + EVENT_COL_TYPES + (
    ("tokens_clean", "array<int>"), ("text_clean", "string"),
    ("n_tok", "int")))

# event code -> name lookups, applied with vectorized Arrow `take`
_TYPE_NAMES = pa.array([None] + [kernel.TYPE_NAMES[i] for i in (1, 2, 3)],
                       type=pa.string())
_ACTION_NAMES = pa.array(
    [None] + [kernel.ACTION_NAMES[i] for i in (1, 2, 3, 4, 5)],
    type=pa.string())
_DESCRIPTIONS = pa.array(kernel.DESC_STRINGS, type=pa.string())

# tokens per kernel call: ~13 MB of kernel temporaries, and at 2^20 tokens
# the per-call overhead is already lost in the per-token cost
KERNEL_SLICE_TOKENS = 1 << 20


def _decode(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Text or token-list column -> (flat codepoints, row offsets)."""
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return strings_to_flat_tokens(col)
    return lists_to_flat_tokens(col)


def _int32(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.int32())


def _row_arrays(offsets: np.ndarray, res: kernel.KernelResult) -> dict:
    """Per-sequence output column builders, by column name."""
    return {
        "tokens_clean": lambda: flat_tokens_to_lists(res.out_tokens,
                                                     res.out_offsets),
        "text_clean": lambda: flat_tokens_to_strings(res.out_tokens,
                                                     res.out_offsets),
        "n_tok": lambda: _int32(np.diff(offsets)),
        "n_tok_clean": lambda: _int32(np.diff(res.out_offsets)),
        "n_detected": lambda: _int32(res.n_detected),
        "n_processed": lambda: _int32(res.n_processed),
        "had_marker": lambda: pa.array(res.had_marker, type=pa.bool_()),
        "n_hidden": lambda: _int32(res.n_hidden),
        "n_ivs": lambda: _int32(res.n_ivs),
        "n_typo": lambda: _int32(res.n_typo),
    }


def _replacements(res: kernel.KernelResult) -> pa.ListArray:
    """replacement col: [] for removals/BOM, codepoints for Replaced,
    null for detect-only (mirrors ref :532 Optional)."""
    replaced = res.ev_action == kernel.ACT_REPLACED
    lens = np.where(replaced, kernel.REPL_LEN_LUT[res.ev_token], 0)
    offsets = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    flat = np.empty(int(offsets[-1]), dtype=np.int64)
    rp = np.nonzero(replaced)[0]
    kernel.scatter_replacements(flat, offsets[rp], res.ev_token[rp])
    return flat_tokens_to_lists(flat, offsets,
                                mask=res.ev_action == kernel.ACT_DETECTED)


def _event_arrays(offsets: np.ndarray, res: kernel.KernelResult) -> dict:
    """Per-event output column builders, by column name."""
    return {
        "line_no": lambda: _int32(res.ev_line_no),
        "idx": lambda: _int32(res.ev_idx),
        "token": lambda: _int32(res.ev_token),
        "marker_type": lambda: _TYPE_NAMES.take(
            pa.array(res.ev_type.astype(np.int64))),
        "description": lambda: _DESCRIPTIONS.take(pa.array(
            kernel.DESC_IDX_LUT[res.ev_token].astype(np.int64))),
        "action": lambda: _ACTION_NAMES.take(
            pa.array(res.ev_action.astype(np.int64))),
        "replacement": lambda: _replacements(res),
    }


def output_ddl(df: DataFrame, passthrough: list[str],
               out_cols: list[str]) -> str:
    """Spark DDL of :func:`kernel_batches`' output over ``df``."""
    return ", ".join(
        [f"{n} {df.schema[n].dataType.simpleString()}" for n in passthrough]
        + [f"{n} {_COL_TYPES[n]}" for n in out_cols])


def _row_slices(offsets: np.ndarray, budget: int
               ) -> Iterator[tuple[int, int]]:
    """Consecutive row ranges ``[start, stop)`` covering every row (one
    empty range for a batch without rows), each holding at most ``budget``
    tokens; a row longer than ``budget`` forms a range of its own."""
    nrows, start = len(offsets) - 1, 0
    while True:
        stop = int(np.searchsorted(offsets, offsets[start] + budget,
                                   "right")) - 1
        stop = min(max(stop, start + 1), nrows)
        yield start, stop
        if stop >= nrows:
            return
        start = stop


def kernel_batches(in_col: str, cfg: DetectorConfig, passthrough: list[str],
                   out_cols: list[str], *, events: bool = False):
    """The one body of every clean-family operator, as a ``mapInArrow``
    function: decode ``in_col``, run the kernel, emit the passthrough
    columns (fanned out per event when ``events``) followed by
    ``out_cols``.

    The kernel runs over row slices of at most :data:`KERNEL_SLICE_TOKENS`
    tokens (read when the body is built, so it travels with the pickled
    function), one output batch per slice: its temporaries peak at ~13
    bytes per token, which a whole ``maxRecordsPerBatch`` batch would
    multiply."""
    build = _event_arrays if events else _row_arrays
    budget = KERNEL_SLICE_TOKENS

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks, offsets = _decode(batch.column(in_col))
            for start, stop in _row_slices(offsets, budget):
                rows = batch.slice(start, stop - start)
                offs = offsets[start:stop + 1] - offsets[start]
                res = kernel.clean_flat(
                    toks[offsets[start]:offsets[stop]], offs, cfg,
                    emit_events=events)
                kept = [rows.column(c) for c in passthrough]
                if events:
                    counts = np.diff(res.ev_offsets)
                    take = pa.array(np.repeat(np.arange(len(counts)), counts),
                                    type=pa.int64())
                    kept = [c.take(take) for c in kept]
                cols = build(offs, res)
                yield pa.RecordBatch.from_arrays(
                    kept + [cols[n]() for n in out_cols],
                    names=passthrough + out_cols)

    return run


def _map_kernel(df: DataFrame, in_col: str, cfg: DetectorConfig,
                passthrough: list[str], out_cols: list[str], *,
                events: bool = False) -> DataFrame:
    return df.mapInArrow(
        kernel_batches(in_col, cfg, passthrough, out_cols, events=events),
        output_ddl(df, passthrough, out_cols))


def _event_cols(event_cols: list[str] | None) -> list[str]:
    names = [n for n, _ in EVENT_COL_TYPES]
    if event_cols is None:
        return names
    unknown = set(event_cols) - set(names)
    if unknown:
        raise ValueError(f"unknown event columns: {sorted(unknown)}")
    return [n for n in names if n in event_cols]


def _token_passthrough(df: DataFrame, keep: list[str] | None) -> list[str]:
    return [f.name for f in df.schema.fields
            if f.name != "tokens" and (keep is None or f.name in keep)]


def _text_passthrough(df: DataFrame, text_col: str,
                      keep: list[str] | None) -> list[str]:
    return [f.name for f in df.schema.fields
            if (f.name != text_col if keep is None else f.name in keep)]


def clean_detect(df: DataFrame, cfg: DetectorConfig = FULL_CLEAN) -> DataFrame:
    """Clean + per-sequence stats; Arrow-batched, passthrough other columns."""
    return _map_kernel(df, "tokens", cfg, _token_passthrough(df, None),
                       ["tokens_clean"] + COUNTERS)


def detect_events(df: DataFrame, cfg: DetectorConfig = FULL_CLEAN, *,
                  keep: list[str] | None = None,
                  event_cols: list[str] | None = None) -> DataFrame:
    """One output row per MarkerReport; passthrough columns fanned out.

    ``keep`` prunes the passthrough columns and ``event_cols`` the event
    payload columns — mapInArrow blocks Catalyst column pruning, so
    projection must be pushed to the operator boundary (e.g. a count-by-type
    aggregate doesn't need the description strings materialized per event).
    Replacement column carries the applied replacement codepoints (empty for
    removals, null when no replacement applied — mirrors ref :532 Optional).
    """
    return _map_kernel(df, "tokens", cfg, _token_passthrough(df, keep),
                       _event_cols(event_cols), events=True)


def clean_documents(df: DataFrame, text_col: str = "text",
                    cfg: DetectorConfig = FULL_CLEAN, *,
                    keep: list[str] | None = None,
                    emit_text: bool = True) -> DataFrame:
    """FUSED text-corpus cleaner: string -> tokens -> kernel -> cleaned
    string (``emit_text``) or token list, plus ``n_tok`` and the counters,
    in ONE Arrow pass."""
    payload = ["text_clean" if emit_text else "tokens_clean", "n_tok"]
    return _map_kernel(df, text_col, cfg,
                       _text_passthrough(df, text_col, keep),
                       payload + COUNTERS)


def document_events(df: DataFrame, text_col: str = "text",
                    cfg: DetectorConfig = FULL_CLEAN, *,
                    keep: list[str] | None = None,
                    event_cols: list[str] | None = None) -> DataFrame:
    """FUSED text-corpus event emitter: string -> tokens -> events in one
    Arrow pass (vs tokenize → detect_events)."""
    return _map_kernel(df, text_col, cfg,
                       _text_passthrough(df, text_col, keep),
                       _event_cols(event_cols), events=True)
