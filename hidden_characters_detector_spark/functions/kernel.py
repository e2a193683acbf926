"""Vectorized marker detection/cleaning kernel.

This is the engine's hot path: the semantics of the reference's fused per-char
scan (``_process_line``, ``/root/reference/hidden-characters-detector.py:648-708``)
and per-file accumulation (``_process_file``, ref :711-779), re-expressed as
whole-batch numpy array ops over a *flattened* token stream — one Arrow batch
of ``tokens: list<int32>`` becomes one flat int array plus row offsets, and
every predicate is a single vectorized gather/compare. No per-row Python.

Design (SURVEY.md §7.5):

* classification is one gather through a per-config class LUT
  (``uint8[0x110000]``, :func:`_class_lut`): families the config turns off
  and its excluded codepoints are zeroed, and in clean mode typographic
  markers with a live replacement get their own class.  Both end entries
  are 0, so a clipped gather also maps out-of-range tokens to "no marker";
* everything else is computed **sparsely**, at marker (~4% of tokens) and
  newline positions only: each marker's row and line (the reference
  processes files line by line; line number and in-line index feed the BOM
  and VS16 rules, the per-line ``processed`` quirk and the event
  positions), the per-row counts (one bincount over row × class), and the
  output offsets (an exclusive cumsum of each changed marker's output
  length minus one);
* the cleaned stream is the input with the changed markers deleted and the
  replacement values inserted (one ``np.delete``, one ``np.insert``); the
  values come from :func:`scatter_replacements`, the one 1→N expansion
  (replacements are ≤3 codepoints), so cleaned rows can be longer than
  inputs without any loop over rows.  The dense passes are the gather, the
  marker and newline ``flatnonzero`` and that rebuild: ~13 bytes of
  temporaries per int32 token;
* the per-file count quirk (``processed`` counts *all* reports on a changed
  line, ref :750-753) is reproduced by grouping reports by line start.

``tests/dense_kernel.py`` keeps a dense per-token implementation of the same
contract as the differential reference for this one.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

from .. import markers


# glibc malloc thresholds that keep freed kernel temporaries resident
MALLOC_TRIM_THRESHOLD = 1 << 30
MALLOC_MMAP_THRESHOLD = 256 << 20


def _tune_malloc() -> None:
    """Keep freed kernel temps resident (runtime mallopt, glibc only).

    On hosts with lazily-backed VM memory a fresh page write costs ~0.5 ms;
    without pinning the trim/mmap thresholds every Arrow batch re-faults
    its temporaries (10-30x slowdowns).  Runs at import time in every
    Python worker, so it applies even when the driver env was not prepared
    (e.g. an externally created SparkSession).  No-op off glibc.
    """
    try:  # pragma: no cover - environment dependent
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        libc.mallopt(M_TRIM_THRESHOLD, MALLOC_TRIM_THRESHOLD)
        libc.mallopt(M_MMAP_THRESHOLD, MALLOC_MMAP_THRESHOLD)
    except Exception:
        pass


def pin_allocator_env() -> None:
    """Export the same thresholds (and Arrow's system pool) to processes
    started after this call: the JVM and the Python workers it forks.

    Call it before the SparkSession starts.  pyarrow's own pool
    (jemalloc/mimalloc) returns memory to the OS via madvise, re-faulting
    pages every batch, so Arrow uses glibc and its pinned thresholds.
    """
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(MALLOC_TRIM_THRESHOLD))
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(MALLOC_MMAP_THRESHOLD))
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


_tune_malloc()

# --- marker-type / action codes (event schema vocabulary) -------------------
TYPE_HIDDEN, TYPE_IVS, TYPE_TYPOGRAPHIC = 1, 2, 3
TYPE_NAMES = {TYPE_HIDDEN: "Hidden", TYPE_IVS: "IdeographicVS",
              TYPE_TYPOGRAPHIC: "Typographic"}

ACT_DETECTED, ACT_REMOVED, ACT_REPLACED, ACT_BOM, ACT_NOCHANGE = 1, 2, 3, 4, 5
ACTION_NAMES = {ACT_DETECTED: "Detected", ACT_REMOVED: "Removed",
                ACT_REPLACED: "Replaced", ACT_BOM: "Processed (BOM)",
                ACT_NOCHANGE: "Detected (Rule: no change)"}

_UNICODE_MAX = 0x110000


def _build_luts():
    """One-time LUT construction; broadcast to executors via module import."""
    cls = np.zeros(_UNICODE_MAX, dtype=np.uint8)
    # order matters: hidden wins over typographic (ref :674 if / :694 elif)
    for cp in markers.TYPOGRAPHIC_CODEPOINTS:
        cls[cp] = TYPE_TYPOGRAPHIC
    cls[markers.IVS_LO:markers.IVS_HI + 1] = TYPE_IVS
    for cp in sorted(markers.HIDDEN_CODEPOINTS):
        cls[cp] = TYPE_HIDDEN

    repl_len = np.zeros(_UNICODE_MAX, dtype=np.int8)
    repl_idx = np.zeros(_UNICODE_MAX, dtype=np.int64)
    flat: list[int] = []
    for cp, out in sorted(markers.LIVE_REPLACEMENTS.items()):
        repl_len[cp] = len(out)
        repl_idx[cp] = len(flat)
        flat.extend(out)
    return cls, repl_len, repl_idx, np.asarray(flat, dtype=np.int64)


CLASS_LUT, REPL_LEN_LUT, REPL_IDX_LUT, REPL_FLAT = _build_luts()


def _build_desc_lut():
    """codepoint -> description-string index (0 = none); the string pool is
    tiny (~650 entries) so events gather descriptions with one int LUT +
    one Arrow ``take`` — no per-row Python, no string LUT of 0x110000."""
    descs: list[str | None] = [None]
    idx = np.zeros(_UNICODE_MAX, dtype=np.int32)
    # typographic first, hidden second: hidden wins, like CLASS_LUT
    for table in (markers.TYPOGRAPHIC_DESCRIPTIONS,
                  markers.HIDDEN_DESCRIPTIONS):
        for cp, d in table.items():
            idx[cp] = len(descs)
            descs.append(d)
    for cp in range(markers.IVS_LO, markers.IVS_HI + 1):
        idx[cp] = len(descs)
        descs.append(markers.ivs_description(cp))
    return idx, descs


DESC_IDX_LUT, DESC_STRINGS = _build_desc_lut()
EMOJI_BASE_ARR = np.fromiter(sorted(markers.EMOJI_VS16_BASES), dtype=np.int64,
                             count=len(markers.EMOJI_VS16_BASES))


@dataclass(frozen=True)
class DetectorConfig:
    """Mirrors the reference constructor flags (ref :576-599) 1:1."""

    clean: bool = True
    check_typographic: bool = True
    check_ivs: bool = True
    exclude_word_chars: bool = False
    excluded: frozenset[int] = frozenset()

    def excluded_array(self) -> np.ndarray:
        ex = set(self.excluded)
        if self.exclude_word_chars:  # --word merges WORD_COMMON (ref :597-599)
            ex |= markers.WORD_COMMON_CODEPOINTS
        return np.fromiter(sorted(ex), dtype=np.int64, count=len(ex))


FULL_CLEAN = DetectorConfig()

# clean-mode class of a typographic marker with a live replacement
_TYPE_REPLACED = 4
# event action of each marker class, in detect mode and in clean mode
_ACTIONS = np.array(
    [[0] + [ACT_DETECTED] * 4,
     [0, ACT_REMOVED, ACT_REMOVED, ACT_DETECTED, ACT_REPLACED]], dtype=np.int8)


@lru_cache(maxsize=16)
def _class_lut(cfg: DetectorConfig) -> np.ndarray:
    """``CLASS_LUT`` with the families ``cfg`` turns off and its excluded
    codepoints zeroed and, in clean mode, replaced typographic markers as
    ``_TYPE_REPLACED``.  Both end entries are 0, so clipping maps
    out-of-range tokens and excluded values onto "no marker"."""
    lut = CLASS_LUT.copy()
    assert lut[0] == lut[-1] == 0  # what clipping relies on
    if not cfg.check_ivs:
        lut[lut == TYPE_IVS] = 0
    if not cfg.check_typographic:
        lut[lut == TYPE_TYPOGRAPHIC] = 0
    lut.put(cfg.excluded_array(), 0, mode="clip")
    if cfg.clean:
        lut[(lut == TYPE_TYPOGRAPHIC) & (REPL_LEN_LUT > 0)] = _TYPE_REPLACED
    return lut


def parse_excluded_chars(vals: list[str] | tuple[str, ...]) -> frozenset[int]:
    """CLI ``--exclude-char`` strings -> excluded codepoints.

    Accepts ``U+XXXX``, bare 4-6 digit hex, or a single literal character —
    the exact accept/reject matrix of the reference CLI parser
    (``/root/reference/hidden-characters-detector.py:969-989``), including
    its traps: ``U+A`` falls through to the literal branch (one char after
    the prefix strip, so it means ``ord('A')``, not ``0xA``), and any
    invalid token (bad hex, out-of-range codepoint, wrong length) is an
    error — raised here as ``ValueError`` (the CLI maps it to exit code 1,
    like the reference's ``SystemExit(1)``).
    """
    out: set[int] = set()
    for token in vals:
        tok = token.strip()
        parsed: int | None = None
        if tok.startswith("U+") and len(tok) > 2:
            tok = tok[2:]
        if 4 <= len(tok) <= 6 and tok.isalnum():
            try:
                parsed = int(tok, 16)
                chr(parsed)  # range check (chr raises beyond U+10FFFF)
            except ValueError:
                parsed = None
        elif len(tok) == 1:
            parsed = ord(tok)
        if parsed is None:
            raise ValueError(
                f"Invalid format for --exclude-char '{token}'. "
                "Use U+XXXX, plain char, or hex.")
        out.add(parsed)
    return frozenset(out)


@dataclass
class KernelResult:
    """Flat-array outputs of one kernel invocation over R rows."""

    out_tokens: np.ndarray      # flat cleaned token stream (int64)
    out_offsets: np.ndarray     # R+1 offsets into out_tokens
    n_detected: np.ndarray      # per-row report count (ref `detected`)
    n_processed: np.ndarray     # per-row changed-line report count (`processed`)
    had_marker: np.ndarray      # per-row bool (ref `had_marker_or_change`)
    # per-row per-family report counts (map-side pre-aggregation: lets
    # density windows aggregate sequences instead of exploded events)
    n_hidden: np.ndarray = field(default=None)
    n_ivs: np.ndarray = field(default=None)
    n_typo: np.ndarray = field(default=None)
    # detection events, flat, grouped by row via ev_offsets
    ev_offsets: np.ndarray = field(default=None)
    ev_line_no: np.ndarray = field(default=None)
    ev_idx: np.ndarray = field(default=None)      # char index within line
    ev_token: np.ndarray = field(default=None)
    ev_type: np.ndarray = field(default=None)     # TYPE_* codes
    ev_action: np.ndarray = field(default=None)   # ACT_* codes


def scatter_replacements(out: np.ndarray, starts: np.ndarray,
                         cps: np.ndarray) -> None:
    """Write the live replacement of each codepoint ``cps[j]`` into ``out``
    from position ``starts[j]`` on (the 1→N expansion: at most
    ``MAX_REPLACEMENT_LEN`` masked scatters, no loop over rows)."""
    ridx, rl = REPL_IDX_LUT[cps], REPL_LEN_LUT[cps]
    for k in range(markers.MAX_REPLACEMENT_LEN):
        sel = rl > k
        out[starts[sel] + k] = REPL_FLAT[ridx[sel] + k]


def clean_flat(toks: np.ndarray, offsets: np.ndarray,
               cfg: DetectorConfig = FULL_CLEAN,
               emit_events: bool = False) -> KernelResult:
    """Run detection/cleaning over a flattened token batch.

    ``toks``: int array of concatenated per-row codepoints (int32 stays
    int32 end to end; other dtypes are widened to int64).
    ``offsets``: int array, length R+1, row i = toks[offsets[i]:offsets[i+1]].
    """
    toks = np.asarray(toks)
    if toks.dtype not in (np.int32, np.int64):
        toks = toks.astype(np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    nrows = offsets.shape[0] - 1

    # the only dense passes: class gather, marker and newline positions,
    # and (clean) the output compaction + insertion
    cls = _class_lut(cfg).take(toks, mode="clip")
    mpos = np.flatnonzero(cls)
    nl = np.flatnonzero(toks == markers.NEWLINE)
    mrow = np.searchsorted(offsets, mpos, side="right") - 1
    mtok = toks[mpos]
    at_start = offsets[mrow] == mpos
    # BOM = U+FEFF at row start (line 1, idx 0; ref :675), unreported in
    # detect mode (:677); VS16 after an emoji base in the same line is kept
    # (ref :664-671; inert when the emoji library is absent)
    is_bom = at_start & (mtok == markers.BOM)
    keep = ~((is_bom & (not cfg.clean)) | (
        (mtok == markers.VS16) & ~at_start
        & np.isin(toks[mpos - 1], EMOJI_BASE_ARR)))
    mpos, mrow, mtok, is_bom = (a[keep] for a in (mpos, mrow, mtok, is_bom))
    mcls = cls[mpos]

    # per-row count of each class 0-4
    cnt = np.bincount(mrow * 5 + mcls, minlength=5 * nrows).reshape(nrows, 5)
    n_detected = cnt.sum(axis=1)

    # line of each marker: newlines before it, past its row start
    k = np.searchsorted(nl, mpos)
    line_start = np.maximum(offsets[mrow], np.concatenate(([0], nl + 1))[k])
    # a changed line counts all its reports as processed (ref :750-753)
    chg = (mcls != TYPE_TYPOGRAPHIC) & cfg.clean
    n_processed = np.bincount(mrow[np.isin(line_start, line_start[chg])],
                              minlength=nrows)

    # each changed marker's output length minus one shifts what follows it
    rep = mcls == _TYPE_REPLACED
    rlen = REPL_LEN_LUT[mtok].astype(np.int64) * rep
    before = np.searchsorted(mpos, offsets)
    shift = np.concatenate(([0], np.cumsum(rlen - chg)))
    out = toks
    if cfg.clean:
        lens = rlen[rep]
        vals = np.empty(int(lens.sum()), dtype=toks.dtype)
        scatter_replacements(vals, np.cumsum(lens) - lens, mtok[rep])
        at = (mpos - np.cumsum(chg) + chg)[rep]  # index among kept tokens
        out = np.insert(np.delete(toks, mpos[chg]), np.repeat(at, lens), vals)

    res = KernelResult(
        out, offsets + shift[before], n_detected, n_processed, n_detected > 0,
        n_hidden=cnt[:, TYPE_HIDDEN], n_ivs=cnt[:, TYPE_IVS],
        n_typo=cnt[:, TYPE_TYPOGRAPHIC] + cnt[:, _TYPE_REPLACED])
    if emit_events:
        res.ev_offsets = before
        res.ev_line_no = 1 + k - np.searchsorted(nl, offsets[mrow])
        res.ev_idx = mpos - line_start
        res.ev_token = mtok.astype(np.int64)
        res.ev_type = np.minimum(mcls, TYPE_TYPOGRAPHIC).astype(np.int8)
        res.ev_action = _ACTIONS[int(cfg.clean)][mcls]
        res.ev_action[is_bom] = ACT_BOM
    return res
