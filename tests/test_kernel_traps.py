"""Precedence traps of the reference detector, with hand-written
expectations.

The goldens in ``tests/golden/`` were recorded from this kernel, so they
catch a change but cannot show that a rule was wrong from the start.  Each
case here is a SURVEY §2.2 **[verified]** example (or the rule it states),
with the expected cleaned text and counts written out by hand.  No
reference script and no Spark needed.
"""

from __future__ import annotations

import numpy as np
import pytest

from hidden_characters_detector_spark.functions.kernel import (
    ACT_BOM, ACT_DETECTED, ACT_REMOVED, ACT_REPLACED, FULL_CLEAN, TYPE_HIDDEN,
    DetectorConfig, clean_flat)

DETECT_ONLY = DetectorConfig(clean=False)


def _run(texts: list[str], cfg: DetectorConfig = FULL_CLEAN):
    """``clean_flat`` over ``texts`` -> (result, cleaned texts)."""
    rows = [[ord(c) for c in t] for t in texts]
    offsets = np.cumsum([0] + [len(r) for r in rows])
    toks = np.array([cp for r in rows for cp in r], dtype=np.int64)
    res = clean_flat(toks, offsets, cfg, emit_events=True)
    out = res.out_tokens.tolist()
    return res, ["".join(map(chr, out[a:b])) for a, b in
                 zip(res.out_offsets[:-1], res.out_offsets[1:])]


def test_bom_only_at_row_start():
    """U+FEFF is a BOM only at line 1, index 0 of a row; anywhere else,
    after a newline included, it is an ordinary hidden removal."""
    res, out = _run(["\ufeffa\ufeff\n\ufeffb", "\ufeffc"])
    assert out == ["a\nb", "c"]
    assert res.n_detected.tolist() == [3, 1]
    assert res.ev_action.tolist() == [ACT_BOM, ACT_REMOVED, ACT_REMOVED,
                                      ACT_BOM]
    assert res.ev_line_no.tolist() == [1, 1, 2, 1]
    assert res.ev_idx.tolist() == [0, 2, 0, 0]


def test_detect_only_leaves_leading_bom_unreported():
    res, out = _run(["\ufeffa\n\ufeffb"], DETECT_ONLY)
    assert out == ["\ufeffa\n\ufeffb"]
    assert res.n_detected.tolist() == [1]
    assert res.n_processed.tolist() == [0]
    assert res.ev_action.tolist() == [ACT_DETECTED]
    assert res.ev_line_no.tolist() == [2]


def test_hidden_beats_typographic():
    """NBSP is hidden and has a typographic replacement (a space); the
    hidden rule is checked first, so it is removed."""
    res, out = _run(["A\u00a0B"])
    assert out == ["AB"]
    assert res.n_detected.tolist() == [1]
    assert res.ev_type.tolist() == [TYPE_HIDDEN]
    assert res.ev_action.tolist() == [ACT_REMOVED]


@pytest.mark.parametrize("text", ["x\u2026y", "x\u2022y", "x\u201ey"],
                         ids=["ellipsis", "bullet", "low_9_quote"])
def test_dead_rules_stay_unchanged(text):
    res, out = _run([text])
    assert out == [text]
    assert res.n_detected.tolist() == [0]


def test_one_to_n_expansion():
    res, out = _run(["a\u2025b"])
    assert out == ["a..b"]
    assert res.out_offsets.tolist() == [0, 4]
    assert res.ev_action.tolist() == [ACT_REPLACED]


def test_processed_counts_every_report_on_a_changed_line():
    """Line 1 has a removed ZWSP and a detect-only tricolon: the line
    changed, so both reports count as processed.  Line 2 has only the
    detect-only tricolon and does not change."""
    text = "a\u200bb tri\u2059colon\nonly tri\u2059colon here\n"
    res, out = _run([text])
    assert out == ["ab tri\u2059colon\nonly tri\u2059colon here\n"]
    assert res.n_detected.tolist() == [3]
    assert res.n_processed.tolist() == [2]
