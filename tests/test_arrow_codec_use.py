"""Arrow list offsets are read and built in one module only.

``sources/synth.py`` holds the list codecs (``list_offsets``,
``lists_to_flat_tokens``/``flat_tokens_to_lists``, ``vectors_to_matrix``).
A hand-rolled copy elsewhere drifts: one blanked every row after a NULL
list in ``detokenize``, another re-sliced a ragged vector batch without
an error in ``hyperplane_buckets``.  This test fails when any other
package module calls ``.value_lengths(`` or ``pa.ListArray.from_arrays(``.
"""

from __future__ import annotations

import glob
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(REPO_ROOT, "hidden_characters_detector_spark")
CODEC_MODULE = os.path.join("sources", "synth.py")
CALLS = (".value_lengths(", "pa.ListArray.from_arrays(")


def test_list_offsets_only_in_codec_module():
    offenders = []
    for path in sorted(glob.glob(os.path.join(PACKAGE_DIR, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, PACKAGE_DIR)
        if rel == CODEC_MODULE:
            continue
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                if any(c in line for c in CALLS):
                    offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, offenders
