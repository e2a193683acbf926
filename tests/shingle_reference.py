"""Per-document reference for the flat-batch shingle hashes.

The straightforward per-doc version of ``dedup._flat_shingle_hashes``:
``tests/test_dedup_vectorized.py`` and ``tests/test_dedup_property.py``
check the batch kernels (minhash, simhash, Jaccard) against it.
"""

from __future__ import annotations

import numpy as np

from hidden_characters_detector_spark.operators.dedup import _HASH_BASE


def shingle_hashes(texts: list[str], k: int = 5) -> list[np.ndarray]:
    """Per-doc arrays of DISTINCT 64-bit k-shingle hashes (char shingles),
    one naive k-step Horner loop per document."""
    out = []
    for t in texts:
        cps = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
            np.uint64)
        if cps.size < k:
            out.append(np.zeros(0, dtype=np.uint64))
            continue
        n = cps.size - k + 1
        acc = np.zeros(n, dtype=np.uint64)
        for j in range(k):  # k is a small constant (5)
            acc = acc * _HASH_BASE + cps[j:j + n]
        out.append(np.unique(acc))
    return out
