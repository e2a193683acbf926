"""Text <-> token-array conversion operators (Arrow-vectorized).

The engine's native input is ``tokens: array<int32>`` (BASELINE.json
``input_hint``); these operators bridge string corpora (the driver's
``documents`` table) into that model and back, using the UTF-32 bulk
encode/decode trick from :mod:`..sources.synth` — one encode per Arrow
batch, no per-row Python in the conversion hot path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..sources.synth import (append_column, flat_tokens_to_lists,
                             flat_tokens_to_strings, lists_to_flat_tokens,
                             strings_to_flat_tokens)


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "tokens") -> DataFrame:
    """Add ``out_col: array<int>`` = codepoints of ``text_col`` (dropped)."""
    def tokens(batch: pa.RecordBatch) -> list[pa.Array]:
        flat, offsets = strings_to_flat_tokens(batch.column(text_col))
        return [flat_tokens_to_lists(flat, offsets),
                pa.array(np.diff(offsets), type=pa.int32())]

    return append_column(df, f"{out_col} array<int>, n_tok int", tokens,
                         drop=(text_col,))


def detokenize(df: DataFrame, list_col: str = "tokens_clean",
               out_col: str = "text_clean") -> DataFrame:
    """Add ``out_col: string`` built from codepoint list ``list_col``
    (dropped from the output); a NULL list becomes the empty string."""
    return append_column(
        df, f"{out_col} string", lambda batch: flat_tokens_to_strings(
            *lists_to_flat_tokens(batch.column(list_col))),
        drop=(list_col,))
