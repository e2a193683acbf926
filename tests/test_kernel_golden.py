"""Kernel golden replay: recorded ``clean_flat`` outputs, no reference needed.

``tests/golden/kernel_golden.json`` holds every ``KernelResult`` field of
``kernel.clean_flat(..., emit_events=True)`` for the inputs of
``tests/test_kernel_parity.py`` (all ``PATTERNS`` x ``FLAG_MATRIX`` cases,
the excluded-char and word-mode texts, the six randomized seeds x four flag
sets, and the exhaustive marker sweep under all five flag sets).  Its header
gives the commit the outputs were recorded at and why they stand in for the
reference detector.  These tests run on any host; the live-reference tests
skip where the reference is absent.

Regenerate only after the kernel has been re-verified against the live
reference:
``PYTHONPATH=. python tests/test_kernel_golden.py --write <commit>``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

from hidden_characters_detector_spark.functions import kernel
from kernel_cases import (EXCLUDED_TEXT, FLAG_MATRIX, PATTERNS,
                          WORD_MODE_TEXT, config, flags_id, flatten,
                          random_rows, sweep_text)

GOLDEN = Path(__file__).parent / "golden" / "kernel_golden.json"
FIELDS = ("out_tokens", "out_offsets", "n_detected", "n_processed",
          "had_marker", "n_hidden", "n_ivs", "n_typo", "ev_offsets",
          "ev_line_no", "ev_idx", "ev_token", "ev_type", "ev_action")
RANDOM_IDS = ("full", "hidden_only", "no_ivs", "detect")
FULL = dict(clean=True, check_typographic=True, check_ivs=True)


def _codepoints(text: str) -> list[int]:
    return [ord(c) for c in text]


def golden_cases():
    """(case id, token rows, flags) for every recorded case, in file order."""
    for name in sorted(PATTERNS):
        for flags in FLAG_MATRIX:
            yield (f"pattern/{name}/{flags_id(flags)}",
                   [_codepoints(PATTERNS[name])], flags)
    yield ("excluded_chars", [_codepoints(EXCLUDED_TEXT)],
           dict(FULL, excluded=[0x200B]))
    yield ("word_mode", [_codepoints(WORD_MODE_TEXT)],
           dict(FULL, exclude_word_chars=True))
    for seed in range(6):
        for rid, flags in zip(RANDOM_IDS, FLAG_MATRIX[:4]):
            yield f"random/{seed}/{rid}", random_rows(seed), flags
    for flags in FLAG_MATRIX:
        yield f"sweep/{flags_id(flags)}", [_codepoints(sweep_text())], flags


CASES = {cid: (rows, flags) for cid, rows, flags in golden_cases()}


def run_kernel(rows, flags, dtype=np.int64) -> dict:
    flat, off = flatten(rows)
    res = kernel.clean_flat(flat.astype(dtype), off, config(flags),
                            emit_events=True)
    return {f: getattr(res, f).tolist() for f in FIELDS}


@pytest.fixture(scope="module")
def golden() -> dict:
    with open(GOLDEN, encoding="utf-8") as f:
        doc = json.load(f)
    return {c["id"]: c for c in doc["cases"]}


def test_golden_records_every_case(golden):
    assert list(golden) == list(CASES)
    for cid, (rows, flags) in CASES.items():
        assert golden[cid]["rows"] == rows, cid
        assert golden[cid]["flags"] == flags, cid


@pytest.mark.parametrize("dtype", [np.int64, np.int32],
                         ids=["int64", "int32"])
@pytest.mark.parametrize("cid", list(CASES))
def test_kernel_matches_golden(golden, cid, dtype):
    rows, flags = CASES[cid]
    got = run_kernel(rows, flags, dtype)
    want = golden[cid]["result"]
    for f in FIELDS:
        assert got[f] == want[f], f


def write_golden(parent_commit: str) -> None:
    header = {
        "recorded_at_commit": parent_commit,
        "provenance": (
            "Every KernelResult field of kernel.clean_flat(rows, offsets, "
            "cfg, emit_events=True) over int64 tokens, recorded at the "
            "commit above. The kernel files were unchanged there since the "
            "r6 close, when tests/test_kernel_parity.py passed 191 tests "
            "against the live reference detector "
            "(hidden-characters-detector.py), so these outputs stand in "
            "for the reference on hosts without it."),
    }
    lines = [json.dumps({"id": cid, "rows": rows, "flags": flags,
                         "result": run_kernel(rows, flags)})
             for cid, rows, flags in golden_cases()]
    GOLDEN.parent.mkdir(exist_ok=True)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        f.write('{"header": ' + json.dumps(header, indent=1)
                + ',\n"cases": [\n' + ",\n".join(lines) + "\n]}\n")


if __name__ == "__main__":
    if sys.argv[1:2] != ["--write"] or len(sys.argv) != 3:
        sys.exit("usage: PYTHONPATH=. python tests/test_kernel_golden.py "
                 "--write COMMIT")
    write_golden(sys.argv[2])
