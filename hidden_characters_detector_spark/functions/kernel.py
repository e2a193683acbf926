"""Vectorized marker detection/cleaning kernel.

This is the engine's hot path: the semantics of the reference's fused per-char
scan (``_process_line``, ``/root/reference/hidden-characters-detector.py:648-708``)
and per-file accumulation (``_process_file``, ref :711-779), re-expressed as
whole-batch numpy array ops over a *flattened* token stream — one Arrow batch
of ``tokens: list<int32>`` becomes one flat int array plus row offsets, and
every predicate is a single vectorized gather/compare. No per-row Python.

Design (SURVEY.md §7.5):

* classification is a one-gather LUT (``uint8[0x110000]``) instead of set
  membership — hidden / IVS / typographic resolved in O(1) per token;
* line structure (the reference processes files line by line; line number
  and in-line index feed the BOM and VS16 rules, the per-line ``processed``
  quirk and the event positions) is computed **sparsely**, at marker and
  newline positions only: for marker-free spans the kernel touches each
  token twice (classify gather + output copy);
* temporaries stay int32/int8/bool where possible, which roughly halves
  memory traffic, the binding resource on slow-memory hosts;
* 1→N replacement expansion is a cumsum of per-token output lengths followed
  by at most ``MAX_REPLACEMENT_LEN`` masked scatters (replacements are ≤3
  codepoints, :func:`scatter_replacements`), so cleaned rows can be longer
  than inputs without any loop over rows;
* the per-file count quirk (``processed`` counts *all* reports on a changed
  line, ref :750-753) is reproduced by grouping reports by line start.

``tests/dense_kernel.py`` keeps a dense per-token implementation of the same
contract as the differential reference for this one.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

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
    n = int(toks.shape[0])
    nrows = int(offsets.shape[0]) - 1
    lengths = np.diff(offsets)

    if n == 0:
        z = np.zeros(nrows, dtype=np.int64)
        return KernelResult(
            toks, offsets, z.copy(), z.copy(), np.zeros(nrows, dtype=bool),
            n_hidden=z.copy(), n_ivs=z.copy(), n_typo=z.copy(),
            ev_offsets=np.zeros(nrows + 1, dtype=np.int64),
            ev_line_no=z[:0], ev_idx=z[:0], ev_token=z[:0],
            ev_type=np.zeros(0, np.int8), ev_action=np.zeros(0, np.int8))

    # classification gather; guard the LUT index only if out-of-range values
    # actually occur (rare) to avoid an n-sized copy on the hot path
    if int(toks.min()) < 0 or int(toks.max()) >= _UNICODE_MAX:
        safe = np.clip(toks, 0, _UNICODE_MAX - 1)
        safe[(toks < 0) | (toks >= _UNICODE_MAX)] = 0
    else:
        safe = toks
    cls = CLASS_LUT[safe]

    ex_arr = cfg.excluded_array()
    not_excluded = ~np.isin(toks, ex_arr) if ex_arr.size else None

    row_starts = offsets[:-1]  # length nrows (may point past end for empty)

    hidden = cls == TYPE_HIDDEN
    if not_excluded is not None:
        hidden &= not_excluded

    # VS16 emoji-context keep rule (ref :664-671): inert when the emoji
    # library is absent.  idx>0 within the line == previous token exists in
    # the same line (not a row start, previous token not a newline).
    if EMOJI_BASE_ARR.size:
        cand = np.nonzero((toks == markers.VS16) & hidden)[0]
        if cand.size:
            at_start = np.isin(cand, row_starts[lengths > 0])
            prev_ok = np.zeros(cand.size, dtype=bool)
            nz = ~at_start
            prev_ok[nz] = (toks[cand[nz] - 1] != markers.NEWLINE) & \
                np.isin(toks[cand[nz] - 1], EMOJI_BASE_ARR)
            hidden[cand[prev_ok]] = False

    # BOM = U+FEFF at row start (line 1, idx 0; ref :675)
    bom_pos = row_starts[(lengths > 0)]
    bom_pos = bom_pos[(toks[bom_pos] == markers.BOM) & hidden[bom_pos]]

    ivs = (cls == TYPE_IVS) if cfg.check_ivs else None
    typo = (cls == TYPE_TYPOGRAPHIC) if cfg.check_typographic else None
    if not_excluded is not None:
        if ivs is not None:
            ivs &= not_excluded
        if typo is not None:
            typo &= not_excluded

    rlen = REPL_LEN_LUT[safe] if (typo is not None and cfg.clean) else None
    typo_replace = (typo & (rlen > 0)) if rlen is not None else None

    # report mask (reuse `hidden`'s buffer pattern: build once)
    report = hidden.copy()
    if ivs is not None:
        report |= ivs
    if typo is not None:
        report |= typo
    if not cfg.clean:
        report[bom_pos] = False  # lead BOM unreported in detect mode (:677)

    # ---- per-row counts (bincount over event rows only — sparse) ----------
    rep_pos = np.nonzero(report)[0]
    rep_row = (np.searchsorted(offsets, rep_pos, side="right") - 1)
    n_detected = np.bincount(rep_row, minlength=nrows)
    had_marker = n_detected > 0
    hpos = rep_pos[hidden[rep_pos]]
    n_hidden = np.bincount(
        np.searchsorted(offsets, hpos, side="right") - 1, minlength=nrows)
    if ivs is not None:
        ipos = rep_pos[ivs[rep_pos]]
        n_ivs = np.bincount(
            np.searchsorted(offsets, ipos, side="right") - 1,
            minlength=nrows)
    else:
        n_ivs = np.zeros(nrows, dtype=np.int64)
    if typo is not None:
        tpos = rep_pos[typo[rep_pos]]
        n_typo = np.bincount(
            np.searchsorted(offsets, tpos, side="right") - 1,
            minlength=nrows)
    else:
        n_typo = np.zeros(nrows, dtype=np.int64)

    # ---- sparse line attribution for event/report positions ---------------
    nl_pos = np.nonzero(toks == markers.NEWLINE)[0]

    def line_of(positions, rows):
        """(line_start, line_no) for sparse positions; all O(k log m)."""
        rs = offsets[rows]
        if nl_pos.size == 0:
            return rs, np.ones(positions.shape[0], dtype=np.int64)
        p = np.searchsorted(nl_pos, positions)
        prev_nl1 = np.where(p > 0, nl_pos[np.maximum(p - 1, 0)] + 1, 0)
        line_start = np.maximum(rs, prev_nl1)
        p_rs = np.searchsorted(nl_pos, rs)
        line_no = 1 + (p - p_rs)
        return line_start, line_no

    # ---- n_processed: the changed-line quirk (ref :750-753) ---------------
    if cfg.clean:
        # changed positions = removals (hidden|ivs) + live replacements
        chg = hidden.copy()
        if ivs is not None:
            chg |= ivs
        if typo_replace is not None:
            chg |= typo_replace
        if nl_pos.size == 0:
            # single-line rows: processed = n_detected on changed rows
            cpos = np.nonzero(chg)[0]
            crow = np.searchsorted(offsets, cpos, side="right") - 1
            row_chg = np.zeros(nrows, dtype=bool)
            row_chg[crow] = True
            n_processed = np.where(row_chg, n_detected, 0).astype(np.int64)
        else:
            # group report positions by their line_start; a line counts all
            # its reports iff it has >= 1 changed position
            ls_rep, _ = line_of(rep_pos, rep_row)
            cpos = np.nonzero(chg)[0]
            crow = np.searchsorted(offsets, cpos, side="right") - 1
            ls_chg, _ = line_of(cpos, crow)
            changed_lines = np.unique(ls_chg)
            on_changed = np.isin(ls_rep, changed_lines)
            n_processed = np.bincount(rep_row[on_changed],
                                      minlength=nrows).astype(np.int64)
    else:
        chg = None
        n_processed = np.zeros(nrows, dtype=np.int64)

    # ---- output rebuild (clean) or passthrough (detect) --------------------
    if cfg.clean:
        out_len = np.ones(n, dtype=np.int32)
        out_len[chg] = 0  # removals + replacements zeroed, then fix repls
        if typo_replace is not None:
            out_len[typo_replace] = rlen[typo_replace]
        cum = np.empty(n + 1, dtype=np.int64)
        cum[0] = 0
        np.cumsum(out_len, dtype=np.int64, out=cum[1:])
        out_offsets = cum[offsets]
        out = np.empty(int(cum[-1]), dtype=toks.dtype)
        plain = out_len == 1
        if typo_replace is not None:
            plain &= ~typo_replace
        out[cum[:-1][plain]] = toks[plain]
        if typo_replace is not None:
            rp = np.nonzero(typo_replace)[0]
            scatter_replacements(out, cum[rp], toks[rp])
    else:
        out, out_offsets = toks, offsets

    res = KernelResult(out, out_offsets, n_detected.astype(np.int64),
                       n_processed, had_marker,
                       n_hidden=n_hidden.astype(np.int64),
                       n_ivs=n_ivs.astype(np.int64),
                       n_typo=n_typo.astype(np.int64))

    if emit_events:
        ls_ev, ln_ev = line_of(rep_pos, rep_row)
        res.ev_offsets = np.searchsorted(rep_pos, offsets,
                                         side="left").astype(np.int64)
        res.ev_line_no = ln_ev.astype(np.int64)
        res.ev_idx = (rep_pos - ls_ev).astype(np.int64)
        res.ev_token = toks[rep_pos].astype(np.int64)
        res.ev_type = cls[rep_pos].astype(np.int8)
        action = np.full(rep_pos.size, ACT_DETECTED, dtype=np.int8)
        if cfg.clean:
            rem = hidden[rep_pos]
            if ivs is not None:
                rem |= ivs[rep_pos]
            action[rem] = ACT_REMOVED
            action[np.isin(rep_pos, bom_pos)] = ACT_BOM
            if typo_replace is not None:
                action[typo_replace[rep_pos]] = ACT_REPLACED
        res.ev_action = action
    return res
