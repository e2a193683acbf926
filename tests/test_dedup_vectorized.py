"""Parity tests for the vectorized (flat-batch) shingle/minhash/simhash
kernels vs the per-doc reference implementation — no Spark needed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from hidden_characters_detector_spark.operators import dedup
from shingle_reference import shingle_hashes

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "",
    "abcd",            # shorter than k=5 -> no shingles
    "abcde",           # exactly one shingle
    "the quick brown fox jumps over the lazy cat",
    "aaaaaaaaaaaaaaaa",  # one distinct shingle, many duplicates
    "x" * 4,
    "spark table query window agg " * 7,
    "ünïcødé shingles — ünïcødé shingles",
]


def _old_minhash(texts, a, b, k):
    rows = []
    for h in shingle_hashes(texts, k):
        if h.size == 0:
            rows.append(np.full(a.shape[0], np.iinfo(np.uint64).max,
                                dtype=np.uint64))
        else:
            v = (a[:, None] * h[None, :] + b[:, None]) % dedup._M61
            rows.append(v.min(axis=1))
    return np.stack(rows)


def _old_simhash(texts, k):
    fps = np.zeros(len(texts), dtype=np.uint64)
    for i, h in enumerate(shingle_hashes(texts, k)):
        if h.size == 0:
            continue
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1))
        counts = bits.sum(axis=0)
        maj = (counts * 2 > h.size).astype(np.uint64)
        fps[i] = (maj << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
    return fps


@pytest.mark.parametrize("k", [2, 4, 5])
def test_flat_shingles_match_per_doc(k):
    arr = pa.array(TEXTS, type=pa.string())
    flat, offsets = dedup._flat_shingle_hashes(arr, k)
    per_doc = shingle_hashes(TEXTS, k)  # distinct + sorted
    assert len(offsets) == len(TEXTS) + 1
    for i, expect in enumerate(per_doc):
        got = np.unique(flat[offsets[i]:offsets[i + 1]])
        assert np.array_equal(got, expect), TEXTS[i]


@pytest.mark.parametrize("k", [4, 5])
def test_minhash_batch_matches_per_doc(k):
    rng = np.random.default_rng(42)
    a = rng.integers(1, int(dedup._M61), 64, dtype=np.uint64)
    b = rng.integers(0, int(dedup._M61), 64, dtype=np.uint64)
    got = dedup._minhash_batch(pa.array(TEXTS, type=pa.string()), a, b, k)
    assert np.array_equal(got, _old_minhash(TEXTS, a, b, k))


@pytest.mark.parametrize("k", [4, 5])
def test_simhash_batch_matches_per_doc(k):
    arr = pa.array(TEXTS, type=pa.string())
    raw, off = dedup._flat_shingle_hashes(arr, k)
    uh, offsets = dedup._unique_per_doc(raw, off)
    # recompute the fingerprints exactly as simhash_fingerprints does
    nrows = len(TEXTS)
    lens = np.diff(offsets)
    nonempty = lens > 0
    fps = np.zeros(nrows, dtype=np.uint64)
    if uh.size:
        starts = offsets[:-1][nonempty]
        seg_lens = lens[nonempty].astype(np.uint64)
        maj_fp = np.zeros(seg_lens.shape[0], dtype=np.uint64)
        for bit in range(64):
            bits = (uh >> np.uint64(bit)) & np.uint64(1)
            cnt = np.add.reduceat(bits, starts)
            maj_fp |= (cnt * np.uint64(2) > seg_lens).astype(
                np.uint64) << np.uint64(bit)
        fps[nonempty] = maj_fp
    assert np.array_equal(fps, _old_simhash(TEXTS, k))


def _old_pairwise_jaccard(texts_a, texts_b, k):
    """The pre-vectorization per-pair loop (round-2 ngram_jaccard verify
    stage), kept as the parity reference."""
    ha = shingle_hashes(texts_a, k)
    hb = shingle_hashes(texts_b, k)
    return np.array([
        (np.intersect1d(x, y).size / np.union1d(x, y).size)
        if x.size and y.size else 0.0
        for x, y in zip(ha, hb)])


@pytest.mark.parametrize("k", [2, 4, 5])
def test_pairwise_jaccard_matches_per_pair(k):
    pairs_a = TEXTS
    pairs_b = list(TEXTS[1:]) + [TEXTS[0]]      # rotated: mixed overlap
    pairs_a = pairs_a + TEXTS                   # plus identical pairs
    pairs_b = pairs_b + TEXTS
    got = dedup._pairwise_jaccard(pa.array(pairs_a, type=pa.string()),
                                  pa.array(pairs_b, type=pa.string()), k)
    expect = _old_pairwise_jaccard(pairs_a, pairs_b, k)
    assert np.allclose(got, expect)
    # identical non-empty pairs score exactly 1.0
    for i, t in enumerate(TEXTS):
        if len(t) >= k:
            assert got[len(TEXTS) + i] == 1.0


def test_pairwise_jaccard_empty_batch():
    empty = pa.array([], type=pa.string())
    assert dedup._pairwise_jaccard(empty, empty, 5).shape == (0,)


def test_unique_per_doc_null_and_empty():
    arr = pa.array(["abcdefgh", None, ""], type=pa.string())
    flat, offsets = dedup._flat_shingle_hashes(arr, 5)
    assert list(np.diff(offsets)) == [4, 0, 0]
    uh, uoff = dedup._unique_per_doc(flat, offsets)
    assert list(np.diff(uoff)) == [4, 0, 0]
