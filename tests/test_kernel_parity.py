"""Differential parity: kernel vs the reference detector run end-to-end.

Contract (BASELINE.json input_hint / FIXTURES.md): for every fixture text,
``tokens_clean == [ord(c) for c in reference_cleaned_text]`` plus equality of
``(n_detected, n_processed, had_marker)`` — under full-clean flags and the
detect-only / flag-variant matrix.  All marker codepoints are written as
explicit escapes so fixtures are byte-deterministic.
"""

from __future__ import annotations

import random

import pytest

from hidden_characters_detector_spark.functions import kernel
from hidden_characters_detector_spark.functions.kernel import DetectorConfig
from dense_kernel import clean_flat_dense
from kernel_cases import (BASE_POOL, EXCLUDED_TEXT, FLAG_MATRIX,
                          MARKER_POOL, PATTERNS, WORD_MODE_TEXT, clean_rows,
                          config, flags_id, random_rows, sweep_text)


def run_both(oracle, text, **flags):
    exp = oracle.run(text, **flags)
    cfg = config(flags)
    toks = [ord(c) for c in text]
    res = clean_rows([toks], cfg, emit_events=True)
    got_tokens = res.out_tokens[
        res.out_offsets[0]:res.out_offsets[1]].tolist()
    return exp, res, got_tokens


@pytest.mark.parametrize("name", sorted(PATTERNS))
@pytest.mark.parametrize("flags", FLAG_MATRIX, ids=flags_id)
def test_pattern_parity(oracle, name, flags):
    text = PATTERNS[name]
    exp, res, got = run_both(oracle, text, **flags)
    assert got == exp["tokens_clean"], name
    assert int(res.n_detected[0]) == exp["n_detected"], name
    assert int(res.n_processed[0]) == exp["n_processed"], name
    assert bool(res.had_marker[0]) == exp["had_marker"], name


def test_excluded_chars(oracle):
    exp, res, got = run_both(oracle, EXCLUDED_TEXT, clean=True,
                             check_typographic=True, check_ivs=True,
                             excluded=frozenset({0x200B}))
    assert got == exp["tokens_clean"]
    assert 0x200B in got                          # ZWSP untouched
    assert 0x00A0 not in got                      # NBSP removed
    assert int(res.n_detected[0]) == exp["n_detected"]


def test_word_mode(oracle):
    exp, res, got = run_both(oracle, WORD_MODE_TEXT, clean=True,
                             check_typographic=True, check_ivs=True,
                             exclude_word_chars=True)
    assert got == exp["tokens_clean"]
    assert got == [ord(c) for c in WORD_MODE_TEXT]  # everything untouched


def test_bom_detect_only_unreported(oracle):
    exp, res, got = run_both(oracle, "﻿hello", clean=False,
                             check_typographic=True, check_ivs=True)
    assert exp["n_detected"] == 0 and exp["had_marker"] is False
    assert int(res.n_detected[0]) == 0 and not bool(res.had_marker[0])


def test_bom_clean_counts(oracle):
    exp, res, got = run_both(oracle, "﻿hello", clean=True,
                             check_typographic=True, check_ivs=True)
    assert got == [ord(c) for c in "hello"]
    assert int(res.n_detected[0]) == 1 == exp["n_detected"]
    assert int(res.n_processed[0]) == 1 == exp["n_processed"]
    # event action is the BOM special case
    assert res.ev_action.tolist() == [kernel.ACT_BOM]


def test_processed_count_quirk(oracle):
    # a changed line counts ALL its reports as processed, including
    # detect-only typographic ones (ref :750-753); an unchanged line with
    # detect-only reports contributes 0 processed
    text = "a​b tri⁙colon\nonly tri⁙colon here\n"
    exp, res, got = run_both(oracle, text, clean=True, check_typographic=True,
                             check_ivs=True)
    assert got == exp["tokens_clean"]
    assert int(res.n_detected[0]) == exp["n_detected"] == 3
    assert int(res.n_processed[0]) == exp["n_processed"] == 2


def test_expansion_lengths(oracle):
    exp, res, got = run_both(oracle, "a‥b", clean=True,
                             check_typographic=True, check_ivs=True)
    assert got == [ord(c) for c in "a..b"]
    assert len(got) == 4  # output longer than the 3-token input


def test_multirow_batch(oracle):
    texts = list(PATTERNS.values())
    cfg = DetectorConfig()
    res = clean_rows([[ord(c) for c in t] for t in texts], cfg,
                            emit_events=True)
    for i, t in enumerate(texts):
        exp = oracle.run(t)
        got = res.out_tokens[res.out_offsets[i]:res.out_offsets[i + 1]].tolist()
        assert got == exp["tokens_clean"], t
        assert int(res.n_detected[i]) == exp["n_detected"], t
        assert int(res.n_processed[i]) == exp["n_processed"], t
        assert bool(res.had_marker[i]) == exp["had_marker"], t
    # events grouped per row and consistent with detected counts
    assert res.ev_offsets[-1] == res.n_detected.sum()


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("flags", FLAG_MATRIX[:4],
                         ids=["full", "hidden_only", "no_ivs", "detect"])
def test_randomized_differential(oracle, seed, flags):
    rows = random_rows(seed)
    res = clean_rows(rows, config(flags))
    for i, toks in enumerate(rows):
        text = "".join(map(chr, toks))
        exp = oracle.run(text, **flags)
        got = res.out_tokens[res.out_offsets[i]:res.out_offsets[i + 1]].tolist()
        assert got == exp["tokens_clean"], (i, toks)
        assert int(res.n_detected[i]) == exp["n_detected"], (i, toks)
        assert int(res.n_processed[i]) == exp["n_processed"], (i, toks)
        assert bool(res.had_marker[i]) == exp["had_marker"], (i, toks)


@pytest.mark.parametrize("flags", FLAG_MATRIX, ids=flags_id)
def test_exhaustive_marker_sweep(oracle, flags):
    """Every marker codepoint in the inventory, each in ascii context."""
    exp, res, got = run_both(oracle, sweep_text(), **flags)
    assert got == exp["tokens_clean"]
    assert int(res.n_detected[0]) == exp["n_detected"]
    assert int(res.n_processed[0]) == exp["n_processed"]


def test_family_counts_sum_to_detected():
    rows = [[ord(c) for c in t] for t in PATTERNS.values()]
    for cfg in (DetectorConfig(), DetectorConfig(clean=False)):
        res = clean_rows(rows, cfg)
        assert (res.n_hidden + res.n_ivs + res.n_typo
                == res.n_detected).all()


OUT_OF_RANGE = [-1, 0x110000, 0x110000 + 0x200B, 2**31 - 1]


@pytest.mark.parametrize("seed", range(4))
def test_sparse_core_equals_dense(seed):
    """The memory-lean sparse kernel == the dense reference on
    newline-heavy random corpora (both event and non-event paths), in both
    token dtypes; tokens outside the codepoint range pass through
    unchanged and report nothing."""
    rng = random.Random(1000 + seed)
    rows = []
    for _ in range(60):
        n = rng.randint(0, 80)
        rows.append([
            rng.choice(MARKER_POOL) if rng.random() < 0.3
            else rng.choice(OUT_OF_RANGE) if rng.random() < 0.03
            else (0x0A if rng.random() < 0.15 else rng.choice(BASE_POOL))
            for _ in range(n)])
    lengths = [len(r) for r in rows]
    offsets = [0]
    for ln in lengths:
        offsets.append(offsets[-1] + ln)
    import numpy as np
    off = np.array(offsets, dtype=np.int64)
    for dtype in (np.int64, np.int32):
        flat = np.array([t for r in rows for t in r], dtype=dtype)
        n_bad = np.isin(flat, OUT_OF_RANGE).sum()
        assert n_bad
        for cfg in (DetectorConfig(), DetectorConfig(clean=False),
                    DetectorConfig(check_ivs=False),
                    DetectorConfig(check_typographic=False),
                    DetectorConfig(exclude_word_chars=True),
                    DetectorConfig(excluded=frozenset({0x200B})),
                    DetectorConfig(excluded=frozenset({0x200B, 0x110000}))):
            a = kernel.clean_flat(flat, off, cfg, emit_events=True)
            b = clean_flat_dense(flat, off, cfg, emit_events=True)
            assert a.out_tokens.tolist() == b.out_tokens.tolist()
            assert a.out_offsets.tolist() == b.out_offsets.tolist()
            for f in ("n_detected", "n_processed", "had_marker", "n_hidden",
                      "n_ivs", "n_typo", "ev_offsets", "ev_line_no",
                      "ev_idx", "ev_token", "ev_type", "ev_action"):
                assert getattr(a, f).tolist() == getattr(b, f).tolist(), f
            assert np.isin(a.out_tokens, OUT_OF_RANGE).sum() == n_bad
            assert not np.isin(a.ev_token, OUT_OF_RANGE).any()
