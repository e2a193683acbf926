"""Property-based tests (hypothesis) for the flat-batch dedup kernels.

The parametrized parity tests in test_dedup_vectorized.py cover curated
edge cases; these throw arbitrary unicode at the same invariants so
offset/boundary bugs in the flat rolling-hash path can't hide behind the
fixture choices.  No Spark needed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from hidden_characters_detector_spark.operators import dedup
from shingle_reference import shingle_hashes

# arbitrary unicode minus surrogates (not encodable to UTF-32 text)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)
_texts = st.lists(_text, min_size=1, max_size=8)


@settings(max_examples=200, deadline=None)
@given(texts=_texts, k=st.integers(2, 6))
def test_flat_shingle_hashes_match_per_doc(texts, k):
    flat, offsets = dedup._flat_shingle_hashes(
        pa.array(texts, type=pa.string()), k)
    per_doc = shingle_hashes(texts, k)
    assert offsets.shape[0] == len(texts) + 1
    for i, expect in enumerate(per_doc):
        got = np.unique(flat[offsets[i]:offsets[i + 1]])
        assert np.array_equal(got, expect)
        # count invariant: every in-doc window start emits one hash
        n_cp = len(texts[i])
        assert offsets[i + 1] - offsets[i] == max(n_cp - k + 1, 0)


@settings(max_examples=100, deadline=None)
@given(texts=_texts, k=st.integers(2, 6))
def test_pairwise_jaccard_properties(texts, k):
    arr = pa.array(texts, type=pa.string())
    # identity: J(x, x) == 1 whenever x has shingles, else 0
    jac_self = dedup._pairwise_jaccard(arr, arr, k)
    for t, j in zip(texts, jac_self):
        assert j == (1.0 if len(t) >= k else 0.0)
    # symmetry + range against the per-pair reference
    rot = texts[1:] + texts[:1]
    brr = pa.array(rot, type=pa.string())
    ab = dedup._pairwise_jaccard(arr, brr, k)
    ba = dedup._pairwise_jaccard(brr, arr, k)
    assert np.allclose(ab, ba)
    assert ((ab >= 0.0) & (ab <= 1.0)).all()
    ha = shingle_hashes(texts, k)
    hb = shingle_hashes(rot, k)
    expect = np.array([
        (np.intersect1d(x, y).size / np.union1d(x, y).size)
        if x.size and y.size else 0.0
        for x, y in zip(ha, hb)])
    assert np.allclose(ab, expect)


@settings(max_examples=100, deadline=None)
@given(texts=_texts, k=st.integers(2, 6))
def test_unique_per_doc_is_segmentwise_distinct(texts, k):
    arr = pa.array(texts, type=pa.string())
    flat, offsets = dedup._flat_shingle_hashes(arr, k)
    uh, uoff = dedup._unique_per_doc(flat, offsets)
    for i in range(len(texts)):
        seg = uh[uoff[i]:uoff[i + 1]]
        assert np.array_equal(seg, np.unique(flat[offsets[i]:offsets[i + 1]]))


@settings(max_examples=60, deadline=None)
@given(texts=_texts)
def test_minhash_batch_is_concat_invariant(texts):
    """Signatures must not depend on batch composition: hashing docs one
    at a time equals hashing them as one batch (the partitioning-
    independence the streaming pipeline relies on)."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, int(dedup._M61), 16, dtype=np.uint64)
    b = rng.integers(0, int(dedup._M61), 16, dtype=np.uint64)
    whole = dedup._minhash_batch(pa.array(texts, type=pa.string()), a, b, 4)
    singly = np.vstack([
        dedup._minhash_batch(pa.array([t], type=pa.string()), a, b, 4)
        for t in texts])
    assert np.array_equal(whole, singly)
