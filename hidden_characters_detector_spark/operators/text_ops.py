"""Text <-> token-array conversion operators (Arrow-vectorized).

The engine's native input is ``tokens: array<int32>`` (BASELINE.json
``input_hint``); these operators bridge string corpora (the driver's
``documents`` table) into that model and back, using the UTF-32 bulk
encode/decode trick from :mod:`..sources.synth` — one encode per Arrow
batch, no per-row Python in the conversion hot path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..sources.synth import (flat_tokens_to_lists, flat_tokens_to_strings,
                             lists_to_flat_tokens, strings_to_flat_tokens)


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "tokens") -> DataFrame:
    """Add ``out_col: array<int>`` = codepoints of ``text_col`` (dropped)."""
    keep = [f.name for f in df.schema.fields if f.name != text_col]
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != text_col] + [f"{out_col} array<int>", "n_tok int"])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = strings_to_flat_tokens(batch.column(text_col))
            arrays = [batch.column(c) for c in keep] + [
                flat_tokens_to_lists(flat, offsets),
                pa.array(np.diff(offsets), type=pa.int32())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=keep + [out_col, "n_tok"])

    return df.mapInArrow(run, ddl)


def detokenize(df: DataFrame, list_col: str = "tokens_clean",
               out_col: str = "text_clean") -> DataFrame:
    """Add ``out_col: string`` built from codepoint list ``list_col``
    (dropped from the output); a NULL list becomes the empty string."""
    keep = [f.name for f in df.schema.fields if f.name != list_col]
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
         if f.name != list_col] + [f"{out_col} string"])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = lists_to_flat_tokens(batch.column(list_col))
            texts = flat_tokens_to_strings(flat, offsets)
            arrays = [batch.column(c) for c in keep] + [texts]
            yield pa.RecordBatch.from_arrays(arrays, names=keep + [out_col])

    return df.mapInArrow(run, ddl)
