"""Table parity: our codepoint tables == the reference module's, exactly.

The live-reference tests skip where the reference detector is absent; the
same eight tables are then checked against ``tests/golden/markers_golden.json``
(its header says where the recorded tables came from).  Regenerate only
after the tables have been re-verified against the live reference:
``PYTHONPATH=. python tests/test_markers.py --write <commit>``.
"""

import json
import sys
from pathlib import Path

import pytest

from hidden_characters_detector_spark import markers

GOLDEN = Path(__file__).parent / "golden" / "markers_golden.json"


def snapshot() -> dict:
    """The eight tables the live-reference tests compare, as JSON data."""
    def keyed(d):
        return {str(cp): v for cp, v in sorted(d.items())}

    return {
        "hidden": sorted(markers.HIDDEN_CODEPOINTS),
        "typographic": sorted(markers.TYPOGRAPHIC_CODEPOINTS),
        "ivs": sorted(markers.IVS_CODEPOINTS),
        "word_common": sorted(markers.WORD_COMMON_CODEPOINTS),
        "replacement_map": keyed({cp: list(v) for cp, v in
                                  markers.REPLACEMENT_MAP.items()}),
        "hidden_descriptions": keyed(markers.HIDDEN_DESCRIPTIONS),
        "typographic_descriptions": keyed(markers.TYPOGRAPHIC_DESCRIPTIONS),
        "ivs_descriptions": keyed({cp: markers.ivs_description(cp)
                                   for cp in markers.IVS_CODEPOINTS}),
    }


@pytest.mark.parametrize("table", ["hidden", "typographic", "ivs",
                                   "word_common", "replacement_map",
                                   "hidden_descriptions",
                                   "typographic_descriptions",
                                   "ivs_descriptions"])
def test_table_matches_golden(table):
    with open(GOLDEN, encoding="utf-8") as f:
        golden = json.load(f)["tables"]
    assert snapshot()[table] == golden[table]


def test_hidden_set_matches(refmod):
    assert markers.HIDDEN_CODEPOINTS == {
        ord(c) for c in refmod.MARKER_CHARS_HIDDEN}


def test_typographic_set_matches(refmod):
    assert markers.TYPOGRAPHIC_CODEPOINTS == {
        ord(c) for c in refmod.MARKER_CHARS_TYPOGRAPHIC}


def test_ivs_set_matches(refmod):
    assert markers.IVS_CODEPOINTS == {
        ord(c) for c in refmod.MARKER_CHARS_IDEOGRAPHIC_VS}


def test_word_common_matches(refmod):
    assert markers.WORD_COMMON_CODEPOINTS == {
        ord(c) for c in refmod.WORD_COMMON_CHARS}


def test_replacement_map_matches(refmod):
    ref = {ord(k): tuple(ord(c) for c in v)
           for k, v in refmod.TYPOGRAPHIC_REPLACEMENTS.items()}
    assert markers.REPLACEMENT_MAP == ref


def test_every_live_replacement_differs_from_key():
    # the kernel's `changed` computation relies on this (ref :698-699 would
    # emit "Detected (Rule: no change)" otherwise)
    for cp, out in markers.LIVE_REPLACEMENTS.items():
        assert out != (cp,)


def test_dead_rules():
    # U+2026 / U+2022 have replacements but are not markers; U+201E is only
    # a Word-common char (SURVEY.md §2.2 dead-rule facts)
    for cp in (0x2026, 0x2022):
        assert cp in markers.REPLACEMENT_MAP
        assert cp not in markers.TYPOGRAPHIC_CODEPOINTS
    assert 0x201E in markers.WORD_COMMON_CODEPOINTS
    assert 0x201E not in markers.TYPOGRAPHIC_CODEPOINTS
    assert 0x201E not in markers.REPLACEMENT_MAP


def test_hidden_beats_typographic_overlap():
    # NBSP & friends live in HIDDEN and in REPLACEMENT_MAP but not in the
    # typographic marker set -> removal wins, replacement half is dead
    overlap = markers.HIDDEN_CODEPOINTS & markers.TYPOGRAPHIC_CODEPOINTS
    assert overlap == frozenset()
    assert 0x00A0 in markers.HIDDEN_CODEPOINTS
    assert 0x00A0 in markers.REPLACEMENT_MAP
    assert 0x00A0 not in markers.LIVE_REPLACEMENTS


def test_hidden_descriptions_match(refmod):
    assert markers.HIDDEN_DESCRIPTIONS == {
        ord(c): d for c, d in refmod.HIDDEN_MARKERS.items()}


def test_typographic_descriptions_match(refmod):
    assert markers.TYPOGRAPHIC_DESCRIPTIONS == {
        ord(c): d for c, d in refmod.TYPOGRAPHIC_MARKERS.items()}


def test_ivs_descriptions_match(refmod):
    for c, d in refmod.IDEOGRAPHIC_VS_MARKERS.items():
        assert markers.ivs_description(ord(c)) == d


def test_desc_lut_covers_every_marker():
    from hidden_characters_detector_spark.functions import kernel
    import numpy as np
    cps = (sorted(markers.HIDDEN_CODEPOINTS)
           + sorted(markers.TYPOGRAPHIC_CODEPOINTS)
           + [markers.IVS_LO, markers.IVS_HI])
    idx = kernel.DESC_IDX_LUT[np.asarray(cps)]
    assert (idx > 0).all()
    assert kernel.DESC_STRINGS[kernel.DESC_IDX_LUT[0x200B]] \
        == markers.HIDDEN_DESCRIPTIONS[0x200B]
    assert kernel.DESC_STRINGS[kernel.DESC_IDX_LUT[0x2019]] \
        == markers.TYPOGRAPHIC_DESCRIPTIONS[0x2019]
    # non-markers map to the null slot
    assert kernel.DESC_IDX_LUT[ord("a")] == 0


def write_golden(commit: str) -> None:
    header = {
        "recorded_at_commit": commit,
        "provenance": (
            "The marker tables of hidden_characters_detector_spark/"
            "markers.py at the commit above. markers.py is unchanged there "
            "since e8b8835. This file's live-reference tests (the tables "
            "against the reference detector's MARKER_CHARS_*, "
            "WORD_COMMON_CHARS, TYPOGRAPHIC_REPLACEMENTS and *_MARKERS "
            "description dicts) were part of the full suite that passed "
            "with the reference present at the r6 close (524 passed, 2 "
            "skipped; OPTIMIZATION_r06.md), so these tables stand in for "
            "the reference on hosts without it."),
    }
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump({"header": header, "tables": snapshot()}, f, indent=1,
                  ensure_ascii=False)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:2] != ["--write"] or len(sys.argv) != 3:
        sys.exit("usage: PYTHONPATH=. python tests/test_markers.py "
                 "--write COMMIT")
    write_golden(sys.argv[2])
