"""The clean-family body runs the kernel over row slices of at most
``operators.clean.KERNEL_SLICE_TOKENS`` tokens; sliced and unsliced runs
must give the same rows, for every operator shape that uses the body."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from hidden_characters_detector_spark.functions.kernel import FULL_CLEAN
from hidden_characters_detector_spark.operators import clean

BUDGET = 300
UNSLICED = 1 << 40
MARKERS = [0x200B, 0x00A0, 0x2018, 0x2025, 0xFE0F, 0xE0100, 0x200D]


def _token_rows(seed: int = 7) -> list[list[int] | None]:
    """Rows around the budget: a row longer than it, empty rows, a NULL
    token list, a BOM-led row, and a tail that ends mid-budget."""
    rng = np.random.default_rng(seed)

    def row(n):
        toks = rng.integers(0x61, 0x7B, n)
        toks[rng.random(n) < 0.08] = 0x0A
        hit = rng.random(n) < 0.06
        toks[hit] = rng.choice(MARKERS, int(hit.sum()))
        return [int(t) for t in toks]

    rows = [row(n) for n in (40, 120, 90)]
    rows += [[], row(3 * BUDGET + 17), None, [0xFEFF] + row(60), []]
    rows += [row(n) for n in (BUDGET, 1, 250, 55)]
    rows += [row(int(n)) for n in rng.integers(0, 180, 20)] + [[]]
    return rows


def _batches(rows: list, col: str) -> list[pa.RecordBatch]:
    """Two input batches, so slicing restarts on a batch boundary."""
    if col == "text":
        values = pa.array([None if r is None else "".join(map(chr, r))
                           for r in rows], pa.string())
    else:
        values = pa.array(rows, pa.list_(pa.int32()))
    ids = pa.array([f"d{i}" for i in range(len(rows))])
    batch = pa.RecordBatch.from_arrays([ids, values], names=["doc_id", col])
    cut = len(rows) // 3
    return [batch.slice(0, cut), batch.slice(cut)]


EVENTS = [n for n, _ in clean.EVENT_COL_TYPES]
SHAPES = {  # the in_col / out_cols / events of each public operator
    "clean_detect": ("tokens", ["tokens_clean"] + clean.COUNTERS, False),
    "detect_events": ("tokens", EVENTS, True),
    "clean_documents": ("text", ["text_clean", "n_tok"] + clean.COUNTERS,
                        False),
    "clean_documents_tokens": ("text", ["tokens_clean", "n_tok"]
                               + clean.COUNTERS, False),
    "document_events": ("text", EVENTS, True),
}


def _run(monkeypatch, budget, shape, rows):
    in_col, out_cols, events = SHAPES[shape]
    monkeypatch.setattr(clean, "KERNEL_SLICE_TOKENS", budget)
    body = clean.kernel_batches(in_col, FULL_CLEAN, ["doc_id"], out_cols,
                                events=events)
    return list(body(iter(_batches(rows, in_col))))


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_sliced_body_equals_unsliced(monkeypatch, shape):
    rows = _token_rows()
    whole = _run(monkeypatch, UNSLICED, shape, rows)
    sliced = _run(monkeypatch, BUDGET, shape, rows)
    assert len(whole) == 2 and len(sliced) > 8
    assert pa.Table.from_batches(sliced).equals(pa.Table.from_batches(whole))


def test_row_slices_respect_the_budget():
    lens = np.array([0, 5, 300, 0, 301, 0, 120, 180, 1, 0], np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    got = list(clean._row_slices(offsets, BUDGET))
    assert got[0][0] == 0 and got[-1][1] == len(lens)
    assert all(a[1] == b[0] for a, b in zip(got, got[1:]))
    for start, stop in got:
        assert stop > start
        assert lens[start:stop].sum() <= BUDGET or stop == start + 1
    # the 301-token row goes alone; empty rows join the slice they end
    assert got == [(0, 2), (2, 4), (4, 5), (5, 8), (8, 10)]
    assert list(clean._row_slices(np.zeros(1, np.int64), BUDGET)) == [(0, 0)]
    assert list(clean._row_slices(np.zeros(4, np.int64), BUDGET)) == [(0, 3)]


def test_spark_operators_sliced_equal_unsliced(spark, monkeypatch):
    """The budget is read when an operator is built, so a patched value
    reaches the Python workers with the pickled body."""
    rows = _token_rows(seed=11)
    df = spark.createDataFrame(
        [(f"d{i}", r, None if r is None else "".join(map(chr, r)))
         for i, r in enumerate(rows)],
        "doc_id string, tokens array<int>, text string").coalesce(1)
    ops = {
        "clean_detect": lambda: clean.clean_detect(df.drop("text")),
        "detect_events": lambda: clean.detect_events(df.drop("text")),
        "clean_documents": lambda: clean.clean_documents(df.drop("tokens")),
    }

    def collect(budget):
        monkeypatch.setattr(clean, "KERNEL_SLICE_TOKENS", budget)
        return {name: sorted(map(repr, op().collect()))
                for name, op in ops.items()}

    assert collect(BUDGET) == collect(UNSLICED)
